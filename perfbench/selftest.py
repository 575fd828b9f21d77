"""Self-tests of the crawl-loop benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. Seeded inputs: one seed generates identical inputs twice, two seeds
   generate different ones (every workload, tiny size).
2. The plain-DataFrame recomputation behind the ``frontier_heavy`` gate
   agrees with the sequential oracle (``bbcrawl_spark.oracle``) on a tiny
   instance of the same generator.
3. The gate rejects a corrupted crawl order.
4. A tiny-size smoke of every workload, untraced and traced: every
   ``BENCHMARK.json`` metric is printed by name with its unit, and the traced
   run writes parent-linked spans with non-negative self times.
5. Without the program next to it, ``run.py`` exits non-zero and prints no
   result.

Exit code 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


class Failed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Failed(msg)


def _fingerprint(spark, inputs) -> str:
    """Digest of everything the program receives for one instance."""
    from pyspark.sql import functions as F

    h = hashlib.sha256()
    pages = spark.read.parquet(inputs.pages_path)
    for r in pages.select(F.sha2(F.concat_ws("|", "url", F.base64("html")), 256)
                          .alias("d")).orderBy("d").collect():
        h.update(r["d"].encode())
    h.update(json.dumps(inputs.config, sort_keys=True, default=list).encode())
    if inputs.wh_template is not None:
        from bbcrawl_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, inputs.wh_template)
        for t in ("frontier", "seen"):
            df = wh.read(t, wh.round_snapshot(-1, t))
            h.update(str(df.select(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")))
                         .first()[0]).encode())
    return h.hexdigest()


def prepare(spark, name: str, seed: int, cache: str):
    from workloads import generate, load

    root = os.path.join(SCRATCH, cache)
    generate(spark, name, seed, "tiny", root)
    return load(name, seed, "tiny", root)


def check_seeds(spark) -> None:
    from workloads import WORKLOADS

    for name in WORKLOADS:
        a = prepare(spark, name, 11, "cache-a")
        b = prepare(spark, name, 11, "cache-b")
        c = prepare(spark, name, 12, "cache-a")
        fa, fb, fc = (_fingerprint(spark, x) for x in (a, b, c))
        expect(fa == fb, f"{name}: one seed generated different inputs")
        expect(fa != fc, f"{name}: two seeds generated identical inputs")
        print(f"ok   seeds: {name}")


def check_recompute_vs_oracle(spark) -> None:
    """Tiny frontier_heavy: the oracle, started from the same round -1 state
    (its seen set pre-filled), must produce the recomputed expectation."""
    import numpy as np

    from bbcrawl_spark import oracle
    from bbcrawl_spark.operators.robots import parse_robots_txt
    from bbcrawl_spark.sources.warehouse import Warehouse
    inputs = prepare(spark, "frontier_heavy", 11, "cache-a")
    want = inputs.expected()
    wh = Warehouse(spark, inputs.wh_template)
    frontier = wh.read("frontier", wh.round_snapshot(-1, "frontier")).collect()
    seen0 = {r["url_hash"] for r in wh.read("seen", wh.round_snapshot(-1, "seen")).collect()}
    pages = {r["url"]: bytes(r["html"]) for r in spark.read.parquet(inputs.pages_path).collect()}
    seeds = [(r["url"], r["seed_id"], r["priority"], r["page_num"]) for r in frontier]
    cfg = inputs.config

    class PrefilledResult(oracle.OracleResult):
        def __init__(self):
            super().__init__()
            self.seen = set(seen0)

    saved = oracle.OracleResult
    oracle.OracleResult = PrefilledResult
    try:
        res = oracle.crawl_oracle(
            pages=pages, seeds=seeds, budget=cfg["budget"],
            robots={h: parse_robots_txt(t) for h, t in cfg["robots"].items()},
            max_rounds=inputs.max_rounds,
        )
    finally:
        oracle.OracleResult = saved
    expect([[r, u] for r, u in res.crawl_order] == want["crawl_order"],
           "frontier_heavy recompute: crawl order differs from the oracle")
    expect(np.array_equal(np.unique(np.array(sorted(res.seen), dtype=np.int64)), want["seen"]),
           "frontier_heavy recompute: seen set differs from the oracle")
    expect(res.texts == want["texts"], "frontier_heavy recompute: texts differ from the oracle")
    expect(len(want["crawl_order"]) > 0, "frontier_heavy recompute: nothing scheduled")
    print(f"ok   recompute == oracle: {len(want['crawl_order'])} scheduled, "
          f"{len(want['texts'])} fetched")


def check_gate_rejects(spark) -> None:
    from workloads import check, corrupted

    inputs = prepare(spark, "board_deep", 11, "cache-a")
    want = inputs.expected()
    got = {k: want[k] for k in ("crawl_order", "seen", "texts")}
    expect(check(want, got) == [], "gate rejects the expectation itself")
    expect(check(want, corrupted(got)) != [], "gate accepts a corrupted crawl order")
    print("ok   gate rejects a corrupted crawl order")


def _run(args, cwd) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from workloads import WORKLOADS

    expect({w["name"] for w in bench["workloads"]} == set(WORKLOADS),
           "BENCHMARK.json workloads differ from perfbench/workloads.py")
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = _run(["--workload", name, "--seed", "3", "--seconds", "1",
                                "--trace", str(trace), "--size", "tiny"], ROOT)
            expect(code == 0, f"{name} trace={trace}: exit code {code}")
            res = json.loads(lines[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{name} trace={trace}: result keys {sorted(res)}")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace={trace}: {res['correct']=} {res['failed']=}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: metrics/units {got} != {want}")
            expect(all(isinstance(m["value"], (int, float)) for m in res["metrics"].values()),
                   f"{name} trace={trace}: non-numeric metric value")
            if trace:
                check_spans(os.path.join(
                    ROOT, ".perfbench", "out", f"{name}-s3-tiny-t1.spans.json"))
            print(f"ok   smoke: {name} trace={trace}")


def check_spans(path: str) -> None:
    with open(path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    expect(any(s["name"] == "round" for s in spans), "no round spans")
    expect(any(s["name"] == "readback" for s in spans), "no readback span")
    eps = 1e-6
    for s in spans:
        expect(s["end"] >= s["start"], f"span {s['id']} ends before it starts")
        expect(s["self_s"] >= -eps, f"span {s['id']} {s['name']}: negative self time")
        if s["parent"] is not None:
            p = by_id.get(s["parent"])
            expect(p is not None, f"span {s['id']}: parent {s['parent']} missing")
            expect(p["start"] - eps <= s["start"] and s["end"] <= p["end"] + eps,
                   f"span {s['id']} {s['name']} not inside its parent")
            expect(p["run"] == s["run"], f"span {s['id']}: run id differs from parent")
        else:
            expect(s["name"] in ("crawl", "readback", "check"),
                   f"unexpected top-level span {s['name']}")
    layers = {s["name"].split(".")[0] for s in spans if s["parent"] is not None}
    for want in ("warehouse", "dedup", "politeness", "extract", "robots"):
        expect(want in layers, f"no {want} spans inside the rounds")


def check_bare_dir() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run(["--workload", "board_deep", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], bare)
    expect(code != 0, "run.py succeeded without the program")
    expect(not any(l.startswith("{") for l in lines), "run.py printed a result without the program")
    shutil.rmtree(bare, ignore_errors=True)
    print(f"ok   no program -> exit {code}, no result")


def main() -> int:
    from bbcrawl_spark.plans.session import build_session
    from run import stop_spark

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    try:
        check_bare_dir()
        spark = build_session(app_name="perfbench-selftest", cores=2, driver_memory="2g",
                              extra={"spark.ui.showConsoleProgress": "false"})
        try:
            check_seeds(spark)
            check_recompute_vs_oracle(spark)
            check_gate_rejects(spark)
        finally:
            stop_spark(spark)
        check_smoke()
    except Failed as e:
        print(f"FAIL {e}")
        return 1
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("all perfbench self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
