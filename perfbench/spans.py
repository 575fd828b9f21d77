"""Span recording for the traced crawl run.

The traced run wraps the public names that ``CrawlDriver.run_round`` calls
with the workloads' configs (``robots_gate``, ``dedup.dedup_against_seen``,
``rank_fetch_slots``, ``make_extract_fused_udf``,
``dedup.update_partitioned_bloom``, ``Warehouse.write/append/commit_round``
and ``Warehouse.read``) with functions that open a span around the call and
force any returned DataFrame to materialize inside it (``persist`` +
``count``): without that, a lazy call would time only plan building and its
work would surface later inside whichever warehouse write triggered it.

Extraction never surfaces at a public call boundary (the fused UDF is a
column expression evaluated inside the writes), so its span times a separate
materializing pass of ``make_extract_fused_udf(...)`` over the round's
scheduled pages.

Spans stay in memory (``Tracer.spans``) and are written out by the caller
when the run ends. Counts that the wrappers need for ratios are taken in
``trace.bookkeeping`` child spans, so they never inflate a layer's time.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import bbcrawl_spark.plans.round as round_mod
from bbcrawl_spark.operators import dedup
from bbcrawl_spark.sources.warehouse import Warehouse


class Tracer:
    """In-memory span list: each span has id, name, parent, run id, start,
    end (perf_counter seconds) and free-form attributes (counts)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def bookkeeping(self):
        return self.span("trace.bookkeeping")

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end or c["start"]), c["end"]
                if hi > lo:
                    covered += hi - lo
                cur_end = hi if cur_end is None else max(cur_end, hi)
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": selfs[s["id"]]} for s in self.spans], f, indent=0)


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


class CrawlTracer:
    """Installs the layer wrappers for one traced crawl and removes them on
    exit. ``cfg`` is the crawl's own config: the extraction pass reads its
    pages table."""

    def __init__(self, tracer: Tracer, cfg):
        self.t = tracer
        self.cfg = cfg
        self._saved: list[tuple[Any, str, Any]] = []
        self._ranked: DataFrame | None = None
        self._round_cache: list[DataFrame] = []

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, name: str, make: Callable[[Any], Any]) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def __enter__(self):
        self._patch(round_mod, "robots_gate", self._wrap_robots)
        self._patch(dedup, "dedup_against_seen", self._wrap_dedup)
        self._patch(round_mod, "rank_fetch_slots", self._wrap_rank)
        self._patch(round_mod, "make_extract_fused_udf", self._wrap_extract)
        self._patch(dedup, "update_partitioned_bloom", self._wrap_bloom)
        self._patch(Warehouse, "write", self._wrap_write)
        self._patch(Warehouse, "append", self._wrap_write)
        self._patch(Warehouse, "commit_round", self._wrap_named("warehouse.commit"))
        self._patch(Warehouse, "read", self._wrap_read)
        return self

    def __exit__(self, *exc):
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
        return False

    def wrap_round(self, run_round):
        """Instance-level wrapper for ``drv.run_round``: the round span; the
        frames the wrappers persisted are released at its end."""

        def traced(r):
            with self.t.span("round", round=r):
                meta = run_round(r)
                with self.t.bookkeeping():
                    for df in self._round_cache:
                        df.unpersist()
                    self._round_cache.clear()
            return meta

        return traced

    # -- wrappers ----------------------------------------------------------
    def _wrap_robots(self, orig):
        def robots_gate(frontier, robots, *a, **kw):
            with self.t.span("robots.gate") as rec:
                out, n_out = _materialize(orig(frontier, robots, *a, **kw))
                self._round_cache.append(out)
                with self.t.bookkeeping():
                    rec["rows_in"] = frontier.count()
                rec["rows_blocked"] = rec["rows_in"] - n_out
            return out

        return robots_gate

    def _wrap_dedup(self, orig):
        def dedup_against_seen(candidates, seen, bloom=None, hash_col="url_hash", cache=None):
            if cache is None:  # flagged frames are then unpersisted per round
                cache = self._round_cache
            n_cached = len(cache)
            with self.t.span("dedup.antijoin") as rec:
                out, n_out = _materialize(orig(candidates, seen, bloom, hash_col, cache))
                rec["rows_out"] = n_out
                with self.t.bookkeeping():
                    rec["rows_in"] = candidates.count()
                    rec["maybe_seen"] = rec["maybe_new"] = rec["bloom_rows_in"] = 0
                    if len(cache) > n_cached:  # the Bloom-flagged frontier
                        rec["bloom_rows_in"] = rec["rows_in"]
                        maybe = cache[-1].filter(F.col("maybe_seen"))
                        rec["maybe_seen"] = maybe.count()
                        rec["maybe_new"] = maybe.join(
                            seen.select(hash_col), hash_col, "left_anti"
                        ).count()
            return out

        return dedup_against_seen

    def _wrap_rank(self, orig):
        def rank_fetch_slots(frontier, budget, *a, **kw):
            with self.t.span("politeness.rank") as rec:
                out, _ = _materialize(orig(frontier, budget, *a, **kw))
                self._round_cache.append(out)
                with self.t.bookkeeping():
                    per_host = frontier.groupBy("host").count()
                    agg = per_host.agg(
                        F.sum("count").alias("n"), F.max("count").alias("top")
                    ).first()
                    rec["candidates"] = int(agg["n"] or 0)
                    rec["top_host"] = int(agg["top"] or 0)
                    rec["scheduled"] = out.filter(F.col("scheduled")).count()
            self._ranked = out
            return out

        return rank_fetch_slots

    def _wrap_extract(self, orig):
        def make_extract_fused_udf(*a, **kw):
            fused = orig(*a, **kw)
            ranked, self._ranked = self._ranked, None
            if ranked is None:
                return fused
            spark = ranked.sparkSession
            pages = spark.read.parquet(self.cfg.pages_path)
            ct = (
                F.col("content_type")
                if "content_type" in pages.columns
                else F.lit("text/html; charset=utf-8")
            )
            cols = ["url", "html"] + [
                c for c in ("content_type", "n_redirects") if c in pages.columns
            ]
            with self.t.span("extract") as rec:
                sched = ranked.filter(F.col("scheduled")).select("url", "page_num")
                joined = sched.join(pages.select(*cols), "url")
                if "n_redirects" in pages.columns:
                    cap = 10 if self.cfg.allow_redirect else 0
                    joined = joined.filter(F.col("n_redirects") <= cap)
                ex = joined.select(
                    F.length("html").alias("n_bytes"),
                    fused("html", "url", "page_num", ct).alias("_ex"),
                )
                agg = ex.agg(
                    F.count("*").alias("pages"),
                    F.sum("n_bytes").alias("bytes"),
                    F.sum(F.size("_ex.links")).alias("links"),
                ).first()
                rec["pages"] = int(agg["pages"] or 0)
                rec["html_bytes"] = int(agg["bytes"] or 0)
                rec["links"] = int(agg["links"] or 0)
            return fused

        return make_extract_fused_udf

    def _wrap_bloom(self, orig):
        def update_partitioned_bloom(seen_new, prev_dir, new_dir, *a, **kw):
            with self.t.span("dedup.bloom_update") as rec:
                stats = orig(seen_new, prev_dir, new_dir, *a, **kw)
            with self.t.bookkeeping():
                with open(os.path.join(new_dir, "manifest.json")) as f:
                    parts = json.load(f)["partitions"].values()
                prefix = os.path.abspath(new_dir) + os.sep
                rec["partitions_rewritten"] = sum(
                    os.path.abspath(p["path"]).startswith(prefix) for p in parts
                )
            return stats

        return update_partitioned_bloom

    def _wrap_write(self, orig):
        def write(wh, table, df, *a, **kw):
            with self.t.span(f"warehouse.write.{table}"):
                return orig(wh, table, df, *a, **kw)

        return write

    def _wrap_named(self, name):
        def make(orig):
            def call(*a, **kw):
                with self.t.span(name):
                    return orig(*a, **kw)

            return call

        return make

    def _wrap_read(self, orig):
        def read(wh, table, snapshot_id=None):
            sid = snapshot_id or wh.current_snapshot(table)
            with self.t.span("warehouse.read", table=table) as rec:
                rec["dirs"] = len(wh.snapshots(table)[sid]["dirs"]) if sid else 0
                return orig(wh, table, snapshot_id)

        return read
