"""Crawl-loop benchmark: times multi-round ``CrawlDriver.run()`` end to end.

Run from the root of a checkout:

    python3 perfbench/run.py --workload board_deep --seed 1 --seconds 15 --trace 0

One process, one ``local[<cores>]`` Spark session (cores = the CPUs this
process may run on), closed loop: each round starts when the previous one
commits. The run

1. launches the JVM with a first session and generates the inputs from
   ``--seed`` on it (neither is part of ``setup_s``; see ``generate``);
2. sets up ``SETUP_REPEATS`` times (session stop + build, input loading,
   UDF-worker warm-up) and reports the median as ``setup_s``;
3. crawls from a fresh warehouse, again and again until ``--seconds`` have
   passed (at least once), timing each ``run()`` and each ``run_round``;
4. reads each crawl's results back (timed: ``readback_s``) and checks them
   against the workload's expectation outside the timed region, together
   with a negative self-check (a corrupted copy must be rejected).

``--trace 1`` instead runs two untraced crawls and one traced crawl and
prints the per-layer metrics (see ``perfbench/spans.py``). The last stdout
line is the JSON result; the line before it is a human-readable summary.
Spans and exact per-round counts go to ``.perfbench/out/``. Exit code 1 when
a round raised or a check failed, 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")

SETUP_REPEATS = 3
DRIVER_MEMORY = "4g"

#: (name, unit) of every metric a --trace 0 run prints
END_TO_END = [
    ("setup_s", "s"),
    ("crawl_s", "s"),
    ("urls_scheduled_per_s", "URL/s"),
    ("pages_fetched_per_s", "page/s"),
    ("round_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]

#: (name, unit) of every metric a --trace 1 run prints
PER_LAYER = [
    ("round.spark_jobs", "count"),
    ("round.spark_stages", "count"),
    ("round.self_s", "s"),
    ("round.fetch_hit_ratio", "ratio"),
    ("round.new_link_ratio", "ratio"),
    ("round.rounds", "count"),
    ("round.n_scheduled", "count"),
    ("round.n_fetched", "count"),
    ("round.n_new_links", "count"),
    ("round.n_frontier_next", "count"),
    ("warehouse.write_s.frontier", "s"),
    ("warehouse.write_s.seen", "s"),
    ("warehouse.write_s.fetch_log", "s"),
    ("warehouse.write_s.fetched", "s"),
    ("warehouse.write_s.metrics", "s"),
    ("warehouse.commit_s", "s"),
    ("warehouse.bytes_written", "bytes"),
    ("warehouse.files_written", "count"),
    ("readback_s", "s"),
    ("warehouse.read_s", "s"),
    ("warehouse.dirs_read", "count"),
    ("robots.gate_s", "s"),
    ("robots.rows_blocked", "count"),
    ("dedup.antijoin_s", "s"),
    ("dedup.rows_in", "count"),
    ("dedup.rows_out", "count"),
    ("dedup.bloom_maybe_ratio", "ratio"),
    ("dedup.bloom_fp_ratio", "ratio"),
    ("dedup.bloom_update_s", "s"),
    ("dedup.bloom_partitions_rewritten", "count"),
    ("politeness.rank_s", "s"),
    ("politeness.scheduled_ratio", "ratio"),
    ("politeness.top_host_share", "ratio"),
    ("extract.s", "s"),
    ("extract.pages", "count"),
    ("extract.html_mb", "MB"),
    ("extract.links", "count"),
    ("session.start_s", "s"),
    ("session.build_s", "s"),
    ("trace_overhead_s", "s"),
]

#: span name prefix -> layer (the package module the span's calls enter)
LAYERS = [
    ("round", "plans.round"),
    ("warehouse.", "sources.warehouse"),
    ("robots.", "operators.robots"),
    ("dedup.", "operators.dedup"),
    ("politeness.", "operators.politeness"),
    ("extract", "functions.udfs"),
    ("trace.", "trace"),
]


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_peak_reset(pid: int) -> None:
    """Reset the process's VmHWM so the peak covers the crawl phase only."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # kernel without clear_refs: peak then spans the whole run


def _mem_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def session_extra() -> dict[str, str]:
    """Benchmark-side settings on top of ``build_session``'s own."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(STATE, "tmp"),
        # keep every job of the run visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it to exit (stopping the session already ends the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _dir_stats(paths) -> tuple[int, int]:
    n_bytes = n_files = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for name in files:
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
                n_files += 1
    return n_bytes, n_files


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = _cores()
        self.spark = None
        self.n_dirs = 0
        self.work = os.path.join(STATE, "work", f"{os.getpid()}")
        self.tag = f"{args.workload}-s{args.seed}-{args.size}-t{args.trace}"
        self.tracer = None  # set by traced_crawl
        self.inputs_root = None  # set by generate
        self.spans_path = None
        self.layer_summary = ""

    # -- session / setup ---------------------------------------------------
    def build_session(self) -> float:
        from bbcrawl_spark.plans.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench", cores=self.cores, driver_memory=DRIVER_MEMORY,
            extra=session_extra(),
        )
        return time.perf_counter() - t0

    def fresh_dir(self) -> str:
        self.n_dirs += 1
        return os.path.join(self.work, f"wh{self.n_dirs:03d}")

    def warm_udfs(self, inputs) -> None:
        """Start one Python worker per task slot and run the fused extractor
        once in each, so the first timed round pays no worker start-up."""
        from pyspark.sql import functions as F

        from bbcrawl_spark.functions.udfs import make_extract_fused_udf

        pages = self.spark.read.parquet(inputs.pages_path)
        ct = (
            F.col("content_type") if "content_type" in pages.columns
            else F.lit("text/html; charset=utf-8")
        )
        fused = make_extract_fused_udf()
        (
            pages.limit(4 * self.cores)
            .repartition(self.cores)
            .select(F.size(fused("html", "url", F.lit(1), ct)["links"]).alias("n"))
            .agg(F.sum("n"))
            .collect()
        )

    def generate(self) -> float:
        """Generate the inputs on the live session; returns its wall time.

        The board workloads are generated in pure Python (no Spark job) and
        cached by (workload, seed, size), so a cache hit leaves the JVM as a
        miss does. ``frontier_heavy`` commits its round -1 state through
        Spark: it is generated afresh in every run, in the run's own
        directory, so that every run's JVM has done the same work before
        the crawl (a cache hit would leave the crawl colder than a miss)."""
        from workloads import generate, needs_spark

        a = self.args
        self.inputs_root = (
            os.path.join(self.work, "inputs") if needs_spark(a.workload)
            else os.path.join(STATE, "cache")
        )
        t0 = time.perf_counter()
        generate(self.spark, a.workload, a.seed, a.size, self.inputs_root)
        return time.perf_counter() - t0

    def setup(self):
        """SETUP_REPEATS x (session stop + build, input loading, UDF
        warm-up). Returns (inputs, config of the first timed crawl, setup
        samples, session build samples)."""
        from workloads import load

        a = self.args
        setups, builds, cfg = [], [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            builds.append(self.build_session())
            inputs = load(a.workload, a.seed, a.size, self.inputs_root)
            if cfg is not None:
                shutil.rmtree(cfg.warehouse_root, ignore_errors=True)
            cfg = inputs.make_config(self.fresh_dir())
            self.spark.read.parquet(inputs.pages_path).count()
            self.warm_udfs(inputs)
            setups.append(time.perf_counter() - t0)
        return inputs, cfg, setups, builds

    # -- one crawl -----------------------------------------------------------
    def crawl(self, inputs, cfg, label: str, tracer=None) -> dict:
        """Run ``CrawlDriver.run()`` over ``cfg``; return timings, exact
        per-round counts and the read-back. Never raises: a failure is
        returned as ``error``."""
        from bbcrawl_spark.plans.round import CrawlDriver

        sc = self.spark.sparkContext
        out = {"label": label, "round_s": [], "error": None}
        drv = CrawlDriver(self.spark, cfg)
        inner = drv.run_round
        if tracer is not None:
            inner = tracer.wrap_round(inner)

        def timed_round(r):
            sc.setJobGroup(f"{label}-r{r}", f"{self.tag} {label} round {r}")
            t0 = time.perf_counter()
            try:
                return inner(r)
            finally:
                out["round_s"].append(time.perf_counter() - t0)

        drv.run_round = timed_round
        span = tracer.t.span if tracer is not None else (lambda name: contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span("crawl"):
                out["summary"] = drv.run(inputs.max_rounds)
        except Exception:  # a raising round counts as failed, the run goes on
            out["error"] = traceback.format_exc()
            out["crawl_s"] = time.perf_counter() - t0
            return out
        out["crawl_s"] = time.perf_counter() - t0
        sc.setJobGroup(f"{label}-readback", f"{self.tag} {label} readback")
        with span("readback"):
            out["readback_s"], out["got"] = self.readback(drv)
        sc.setJobGroup(f"{label}-check", f"{self.tag} {label} check")
        with span("check"):
            if inputs.wh_template is not None:  # frontier_heavy: final frontier too
                from workloads import frontier_checksum

                last = drv.wh.last_committed_round()
                out["got"]["frontier_checksum"] = frontier_checksum(
                    drv.wh.read("frontier", drv.wh.round_snapshot(last, "frontier"))
                )
            out["counts"] = self.round_counts(drv, label)
        return out

    @staticmethod
    def readback(drv):
        """Timed: materialize crawl_order() + seen_set() + fetched_texts()
        on the driver, as a downstream consumer would."""
        t0 = time.perf_counter()
        order = drv.crawl_order().orderBy("rank").select("round", "url").collect()
        seen = drv.seen_set().select("url_hash").toPandas()["url_hash"].to_numpy()
        texts = drv.fetched_texts().toPandas()
        dt = time.perf_counter() - t0
        return dt, {
            "crawl_order": [(r["round"], r["url"]) for r in order],
            "seen": seen,
            "texts": dict(zip(texts["url"], texts["text"])),
        }

    def round_counts(self, drv, label: str) -> list[dict]:
        """Exact per-round counts read from outside the program: Spark jobs
        and stages (status tracker, one job group per round), the metrics
        table, the round log, and bytes/files each round added on disk."""
        from pyspark.sql import functions as F

        st = self.spark.sparkContext.statusTracker()
        m = {
            r["round"]: r
            for r in drv.metrics().groupBy("round").agg(
                F.sum("n_scheduled").alias("n_scheduled"),
                F.sum("n_fetched").alias("n_fetched"),
                F.sum("n_new_links").alias("n_new_links"),
            ).collect()
        }
        log = drv.wh.round_log()
        rows = []
        for key in sorted(log, key=int):
            r = int(key)
            if r < 0:
                continue
            jobs = st.getJobIdsForGroup(f"{label}-r{r}")
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            dirs = []
            for t, sid in log[key]["tables"].items():
                if t == "bloom_dir":
                    dirs.append(sid)
                else:
                    dirs.append(drv.wh.snapshots(t)[sid]["dirs"][-1])
            n_bytes, n_files = _dir_stats(dirs)
            mr = m.get(r)
            rows.append({
                "round": r,
                "spark_jobs": len(jobs),
                "spark_stages": len(stages),
                "n_scheduled": int(mr["n_scheduled"]) if mr else 0,
                "n_fetched": int(mr["n_fetched"]) if mr else 0,
                "n_new_links": int(mr["n_new_links"]) if mr else 0,
                "n_frontier_next": int(log[key]["meta"].get("n_frontier_next", 0)),
                "bytes_written": n_bytes,
                "files_written": n_files,
            })
        return rows

    def gate(self, inputs, want, res) -> list[str]:
        """Correctness of one crawl (outside every timed region), plus the
        negative self-check: a copy with one corrupted URL must fail."""
        from workloads import check, corrupted

        if res["error"]:
            return ["round raised:\n" + res["error"]]
        bad = check(want, res["got"])
        if not check(want, corrupted(res["got"])):
            bad.append("negative self-check: the gate accepted a corrupted crawl order")
        return bad

    # -- the two run modes -----------------------------------------------------
    def run(self) -> int:
        a = self.args
        start_s = self.build_session()  # JVM launch + first session
        gen_s = self.generate()
        inputs, cfg, setups, builds = self.setup()
        want = inputs.expected()
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        _mem_peak_reset(jvm)
        crawls, failures = [], []
        t_start = time.perf_counter()
        if a.trace:
            # c1 (cold) gives the exact counts; c2 and the traced crawl both
            # run warm, so their difference is the tracing overhead
            crawls.append(self.crawl(inputs, cfg, "c1"))
            crawls.append(self.crawl(inputs, inputs.make_config(self.fresh_dir()), "c2"))
            crawls.append(self.traced_crawl(inputs))
        else:
            while True:
                crawls.append(self.crawl(inputs, cfg, f"c{len(crawls) + 1}"))
                shutil.rmtree(cfg.warehouse_root, ignore_errors=True)
                if time.perf_counter() - t_start >= a.seconds or crawls[-1]["error"]:
                    break
                cfg = inputs.make_config(self.fresh_dir())
        peak_mb = _mem_peak_mb(jvm)
        failed = 0  # rounds that raised + crawls whose check failed
        for c in crawls:
            msgs = self.gate(inputs, want, c)
            failed += bool(msgs)
            failures.extend(f"{c['label']}: {msg}" for msg in msgs)
        ok = [c for c in crawls if not c["error"]]
        attempted = sum(len(c["round_s"]) for c in crawls) + len(crawls)

        counts = ok[0]["counts"] if ok else []
        if a.trace:
            metrics = self.layer_metrics(crawls, counts, start_s, builds)
        else:
            metrics = self.e2e_metrics(ok, setups, peak_mb)
        rounds = [x for c in ok for x in c["round_s"]]
        os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
        detail = os.path.join(STATE, "out", f"{self.tag}.json")
        with open(detail, "w") as f:
            json.dump({
                "workload": a.workload, "seed": a.seed, "size": a.size,
                "cores": self.cores, "inputs": inputs.meta,
                "session_start_s": start_s, "gen_s": gen_s,
                "setup_s": setups, "session_build_s": builds,
                "crawls": [
                    {k: c.get(k) for k in ("label", "crawl_s", "readback_s",
                                           "round_s", "counts", "error")}
                    for c in crawls
                ],
                "failures": failures,
                "spans": self.spans_path,
            }, f, indent=1)
        print(
            f"perfbench {self.tag}: cores={self.cores} crawls={len(crawls)} "
            f"rounds={len(rounds)} (round samples) gen_s={gen_s:.2f} "
            f"jobs/round={[r['spark_jobs'] for r in counts]} "
            f"{self.layer_summary} detail={os.path.relpath(detail, ROOT)}"
        )
        for msg in failures:
            print(f"perfbench FAIL {msg}", file=sys.stderr)
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if not failures else 1

    def e2e_metrics(self, ok, setups, peak_mb) -> dict:
        med = statistics.median
        vals = {"setup_s": med(setups), "peak_rss_mb": peak_mb}
        if ok:
            crawl_s = med(c["crawl_s"] for c in ok)
            sched = med(sum(r["n_scheduled"] for r in c["counts"]) for c in ok)
            fetched = med(sum(r["n_fetched"] for r in c["counts"]) for c in ok)
            vals.update(
                crawl_s=crawl_s,
                urls_scheduled_per_s=sched / crawl_s,
                pages_fetched_per_s=fetched / crawl_s,
                round_p50_s=med(x for c in ok for x in c["round_s"]),
            )
        return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END if n in vals}

    def traced_crawl(self, inputs) -> dict:
        from spans import CrawlTracer, Tracer

        tracer = Tracer(run_id=f"{self.tag}-{os.getpid()}")
        cfg = inputs.make_config(self.fresh_dir())
        with CrawlTracer(tracer, cfg) as ct:
            res = self.crawl(inputs, cfg, "traced", tracer=ct)
        shutil.rmtree(cfg.warehouse_root, ignore_errors=True)
        self.tracer = tracer
        os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
        self.spans_path = os.path.join(STATE, "out", f"{self.tag}.spans.json")
        tracer.dump(self.spans_path)
        return res

    def layer_metrics(self, crawls, counts, start_s, builds) -> dict:
        _, untraced, traced = crawls
        t = self.tracer
        selfs = t.self_times()
        spans = t.spans
        by_id = {s["id"]: s for s in spans}

        def total(name, key=None, under=None):
            acc = 0.0
            for s in spans:
                if s["name"] != name:
                    continue
                if under is not None and (
                    s["parent"] is None or by_id[s["parent"]]["name"] != under
                ):
                    continue
                acc += selfs[s["id"]] if key is None else s.get(key, 0)
            return acc

        def ratio(a, b):
            return a / b if b else 0.0

        n_sched = sum(r["n_scheduled"] for r in counts)
        n_fetched = sum(r["n_fetched"] for r in counts)
        n_new = sum(r["n_new_links"] for r in counts)
        links = total("extract", "links")
        maybe = total("dedup.antijoin", "maybe_seen")
        vals = {
            "round.spark_jobs": statistics.median(r["spark_jobs"] for r in counts) if counts else 0,
            "round.spark_stages": statistics.median(r["spark_stages"] for r in counts) if counts else 0,
            "round.self_s": total("round"),
            "round.fetch_hit_ratio": ratio(n_fetched, n_sched),
            "round.new_link_ratio": ratio(n_new, links),
            "round.rounds": len(counts),
            "round.n_scheduled": n_sched,
            "round.n_fetched": n_fetched,
            "round.n_new_links": n_new,
            "round.n_frontier_next": sum(r["n_frontier_next"] for r in counts),
            "warehouse.commit_s": total("warehouse.commit"),
            "warehouse.bytes_written": sum(r["bytes_written"] for r in counts),
            "warehouse.files_written": sum(r["files_written"] for r in counts),
            # the untraced read-back: too noisy run to run for a regression
            # bound (its spread over ten runs reached 0.4 of its median)
            "readback_s": crawls[0]["readback_s"] if not crawls[0]["error"] else 0.0,
            "warehouse.read_s": total("warehouse.read", under="readback"),
            "warehouse.dirs_read": total("warehouse.read", "dirs", under="readback"),
            "robots.gate_s": total("robots.gate"),
            "robots.rows_blocked": total("robots.gate", "rows_blocked"),
            "dedup.antijoin_s": total("dedup.antijoin"),
            "dedup.rows_in": total("dedup.antijoin", "rows_in"),
            "dedup.rows_out": total("dedup.antijoin", "rows_out"),
            "dedup.bloom_maybe_ratio": ratio(maybe, total("dedup.antijoin", "bloom_rows_in")),
            "dedup.bloom_fp_ratio": ratio(total("dedup.antijoin", "maybe_new"), maybe),
            "dedup.bloom_update_s": total("dedup.bloom_update"),
            "dedup.bloom_partitions_rewritten": total("dedup.bloom_update", "partitions_rewritten"),
            "politeness.rank_s": total("politeness.rank"),
            "politeness.scheduled_ratio": ratio(
                total("politeness.rank", "scheduled"), total("politeness.rank", "candidates")),
            "politeness.top_host_share": ratio(
                total("politeness.rank", "top_host"), total("politeness.rank", "candidates")),
            "extract.s": total("extract"),
            "extract.pages": total("extract", "pages"),
            "extract.html_mb": total("extract", "html_bytes") / 2**20,
            "extract.links": links,
            "session.start_s": start_s,
            "session.build_s": statistics.median(builds),
            "trace_overhead_s": (
                traced["crawl_s"] - untraced["crawl_s"]
                if not traced["error"] and not untraced["error"] else 0.0
            ),
        }
        for tbl in ("frontier", "seen", "fetch_log", "fetched", "metrics"):
            vals[f"warehouse.write_s.{tbl}"] = total(f"warehouse.write.{tbl}")
        # self time per layer inside the rounds -> the dominant layer
        per_layer: dict[str, float] = {}
        round_ids = {s["id"] for s in spans if s["name"] == "round"}
        for s in spans:
            inside = s["id"] in round_ids or s["parent"] in round_ids
            if not inside:
                continue
            layer = next(lay for p, lay in LAYERS if s["name"].startswith(p))
            per_layer[layer] = per_layer.get(layer, 0.0) + selfs[s["id"]]
        real = {k: v for k, v in per_layer.items() if k != "trace"}
        top = max(real, key=real.get) if real else "-"
        self.layer_summary = "layer_self_s={" + ", ".join(
            f"{k}: {v:.2f}" for k, v in sorted(per_layer.items(), key=lambda kv: -kv[1])
        ) + f"}} dominant={top}"
        return {n: {"value": float(vals[n]), "unit": u} for n, u in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size (tiny: self-tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import pyspark  # noqa: F401

        import bbcrawl_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS or args.size not in WORKLOADS[args.workload].sizes:
        print(f"perfbench: unknown workload/size {args.workload}/{args.size}", file=sys.stderr)
        return 2

    # every file Spark, the JVM and the Python workers write stays in the checkout
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()

    bench = Bench(args)
    try:
        return bench.run()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
