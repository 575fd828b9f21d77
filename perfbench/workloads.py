"""Benchmark workloads: seeded input generation, the on-disk input cache, and
the per-workload correctness gates.

Every input is a pure function of ``(workload, seed, size)``. Generated
inputs (the pages parquet, the round -1 warehouse state for
``frontier_heavy``, and the expected crawl results) go to one directory per
instance under a root the caller picks, keyed by workload, seed, size, the
size's parameters and ``GEN_VERSION``; an instance already there is not
generated again. ``run.py`` keeps the board workloads in
``.perfbench/cache/`` in the checkout root and generates ``frontier_heavy``
afresh in every run. A cache hit skips only generation, never the per-run
gate.

Expectations come from an implementation independent of the crawl loop:

* board workloads: ``bbcrawl_spark.oracle.crawl_oracle``, the sequential
  pure-Python statement of the round contract;
* ``frontier_heavy``: a recomputation of the round contract over plain
  pandas frames in this file (no Spark plan, no Bloom filter, no salting, no
  politeness operator), using the generator's own knowledge of each page's
  out-link.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bbcrawl_spark import extract, oracle
from bbcrawl_spark.htmlkit import decode_html
from bbcrawl_spark.operators import dedup
from bbcrawl_spark.operators.robots import parse_robots_txt
from bbcrawl_spark.plans.round import CrawlConfig, frontier_from_urls
from bbcrawl_spark.sources.boardsite import make_board_site
from bbcrawl_spark.sources.warehouse import Warehouse

#: bump when a generator or an expectation changes: old cache entries are
#: then never read again
GEN_VERSION = 2

_ROBOTS_PRIVATE = "User-agent: *\nDisallow: /forum/private\n"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: size name -> generator parameters
    sizes: dict[str, dict[str, Any]]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "board_deep",
            "2 hosts at budget 5, 6 KB mixed-charset pages: 4 small rounds, so the "
            "fixed per-round cost of plans.round and sources.warehouse dominates",
            {
                "full": dict(hosts=2, boards=2, threads=3, pages_per_thread=1,
                             posts_per_page=2, words_per_post=400, budget=5,
                             bloom_partitions=4),
                "tiny": dict(hosts=2, boards=2, threads=2, pages_per_thread=1,
                             posts_per_page=3, words_per_post=20, budget=5,
                             bloom_partitions=4),
            },
        ),
        Workload(
            "frontier_heavy",
            "Zipf-skewed 2000-host pager frontier vs a 5x larger seen set, tiny pages, "
            "2 fixed rounds: dedup, politeness and the frontier rewrite do the work",
            {
                "full": dict(hosts=2000, frontier=30_000, seen=150_000, rounds=2,
                             budget=5, bloom_partitions=16, salt_partitions=4),
                "tiny": dict(hosts=20, frontier=2_000, seen=10_000, rounds=2,
                             budget=5, bloom_partitions=4, salt_partitions=2),
            },
        ),
    )
}


@dataclass
class Inputs:
    """A workload instance: what the program receives (pages table, seeds,
    config) plus where its expectations live."""

    cache_dir: str
    config: dict[str, Any]  # CrawlConfig fields except warehouse_root
    pages_path: str
    max_rounds: int | None = None  # frontier_heavy: fixed round count
    wh_template: str | None = None  # frontier_heavy: round -1 state
    wh_written_at: str | None = None  # the template's root when generated
    meta: dict[str, Any] = field(default_factory=dict)

    def make_config(self, warehouse_root: str) -> CrawlConfig:
        """A CrawlConfig over a fresh warehouse: empty for the board
        workloads, a path-rewritten copy of the round -1 state otherwise."""
        if self.wh_template is not None:
            copy_warehouse(self.wh_template, warehouse_root, self.wh_written_at)
        return CrawlConfig(
            pages_path=self.pages_path, warehouse_root=warehouse_root, **self.config
        )

    def expected(self) -> dict[str, Any]:
        """crawl_order [[round, url], ...] in rank order, seen (sorted
        unique int64 array), texts {url: text}, and for frontier_heavy the
        final frontier's checksum."""
        with open(os.path.join(self.cache_dir, "expect.json")) as f:
            want = json.load(f)
        seen_npy = os.path.join(self.cache_dir, "expect_seen.npy")
        if os.path.exists(seen_npy):
            want["seen"] = np.load(seen_npy)
        else:
            want["seen"] = np.unique(np.asarray(want["seen"], dtype=np.int64))
        return want


def copy_warehouse(src: str, dst: str, written_at: str | None = None) -> None:
    """Copy a warehouse tree and rewrite the absolute paths its manifests,
    round log and Bloom manifests hold (rooted at ``written_at``, default
    ``src``), so the copy never points back at the cache: the crawl then
    writes only under ``dst``."""
    dst = os.path.abspath(dst)
    shutil.copytree(src, dst)
    old = written_at or os.path.abspath(src)
    for dirpath, _, files in os.walk(dst):
        for name in files:
            if name.endswith(".json"):
                p = os.path.join(dirpath, name)
                with open(p) as f:
                    text = f.read()
                with open(p, "w") as f:
                    f.write(text.replace(old, dst))


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def cache_dir_for(workload: str, seed: int, size: str, cache_root: str) -> str:
    params = WORKLOADS[workload].sizes[size]
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.abspath(
        os.path.join(cache_root, f"{workload}-s{seed}-{size}-v{GEN_VERSION}-{key}")
    )


def is_cached(workload: str, seed: int, size: str, cache_root: str) -> bool:
    return os.path.exists(os.path.join(cache_dir_for(workload, seed, size, cache_root), "READY"))


def needs_spark(workload: str) -> bool:
    """frontier_heavy commits its round -1 state through the Warehouse."""
    return workload == "frontier_heavy"


def generate(spark: SparkSession | None, workload: str, seed: int, size: str,
             cache_root: str) -> None:
    """Generate one instance and its expectations into the cache (no-op on
    a hit). ``READY`` is written last: a crashed generation is redone."""
    if is_cached(workload, seed, size, cache_root):
        return
    cache_dir = cache_dir_for(workload, seed, size, cache_root)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.makedirs(cache_dir)
    params = WORKLOADS[workload].sizes[size]
    if needs_spark(workload):
        _frontier_generate(spark, seed, params, cache_dir)
    else:
        _board_generate(seed, params, cache_dir)
    with open(os.path.join(cache_dir, "READY"), "w") as f:
        f.write("ok\n")


def load(workload: str, seed: int, size: str, cache_root: str) -> Inputs:
    """The cached instance (``generate`` it first)."""
    cache_dir = cache_dir_for(workload, seed, size, cache_root)
    with open(os.path.join(cache_dir, "inputs.json")) as f:
        spec = json.load(f)
    return Inputs(
        cache_dir=cache_dir,
        config=_config_from_json(spec["config"]),
        pages_path=os.path.join(cache_dir, "pages.parquet"),
        max_rounds=spec.get("max_rounds"),
        wh_template=os.path.join(cache_dir, "wh") if spec.get("wh_root") else None,
        wh_written_at=spec.get("wh_root"),
        meta=spec.get("meta", {}),
    )


def _config_from_json(c: dict[str, Any]) -> dict[str, Any]:
    out = dict(c)
    out["seeds"] = [tuple(s) for s in c.get("seeds", [])]
    out["excludes"] = tuple(c.get("excludes", ()))
    return out


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


# ---------------------------------------------------------------------------
# board workloads (make_board_site + the sequential oracle)
# ---------------------------------------------------------------------------

#: ``boardsite.PAGES_SCHEMA`` as an Arrow schema
_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("content_type", pa.string()), ("n_redirects", pa.int32()),
    ("content_disposition", pa.string()),
])


def _write_pages(rows: list[tuple], path: str) -> None:
    """The pages table as one parquet file, written without a Spark session
    (generation then needs no JVM)."""
    os.makedirs(path)
    cols = list(zip(*rows))
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, _PAGES_ARROW)], schema=_PAGES_ARROW
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def board_site(seed: int, params: dict[str, Any]):
    """The generated board site (pages, seeds, robots, excludes)."""
    p = params
    return make_board_site(
        hosts=p["hosts"], boards=p["boards"], threads=p["threads"],
        pages_per_thread=p["pages_per_thread"], seed=seed,
        charset_mix=True,
        posts_per_page=p.get("posts_per_page", 2),
        words_per_post=p.get("words_per_post", 0),
    )


def _board_generate(seed, params, cache_dir) -> None:
    site = board_site(seed, params)
    seeds = list(site.seeds)
    _write_pages(site.rows, os.path.join(cache_dir, "pages.parquet"))
    want = oracle.crawl_oracle(
        pages=site.pages,
        seeds=seeds,
        budget=params["budget"],
        robots={h: parse_robots_txt(t) for h, t in site.robots.items()},
        excludes=set(site.excludes),
        content_types=site.content_types,
        max_rounds=100,
    )
    config = dict(
        seeds=seeds, budget=params["budget"], max_rounds=100,
        excludes=list(site.excludes), robots=site.robots,
        bloom_partitions=params["bloom_partitions"],
    )
    _write_json(os.path.join(cache_dir, "inputs.json"), {
        "config": config,
        "meta": {"pages": len(site.rows),
                 "html_mb": sum(len(b) for b in site.pages.values()) / 2**20,
                 "oracle_rounds": want.rounds},
    })
    _write_json(os.path.join(cache_dir, "expect.json"), {
        "crawl_order": [[r, u] for r, u in want.crawl_order],
        "seen": sorted(want.seen),
        "texts": want.texts,
    })


# ---------------------------------------------------------------------------
# frontier_heavy (Spark-side generator + pandas recomputation)
# ---------------------------------------------------------------------------


def _harmonic(n: int) -> float:
    return sum(1.0 / (k + 1) for k in range(n))


def frontier_tables(spark: SparkSession, seed: int, params: dict[str, Any]):
    """(frontier rows, seen hashes, pages, out-links, host names) for
    frontier_heavy.

    Host k of H carries a vb4-style pager (``/forum/t{k}``, ``.../page{p}``)
    of ``C/(k+1)`` pages — Zipf(1) host skew; every 50th page sits under a
    robots-disallowed ``/forum/private`` prefix. The seed picks host names,
    which half of the frontier is already seen, which pages exist (90%) and
    each page's out-link.
    """
    H, n_front, n_seen = params["hosts"], params["frontier"], params["seen"]
    C = n_front / _harmonic(H)
    hosts = spark.range(H).select(
        F.col("id").alias("k"),
        # 7919 is invertible mod the prime 1000003: names are distinct
        F.format_string(
            "h%07d.example", (F.col("id") * 7919 + seed * 104729) % 1000003
        ).alias("hostname"),
        F.greatest(F.lit(1), F.floor(F.lit(C) / (F.col("id") + 1))).cast("int").alias("n"),
    )
    rows = hosts.select(
        "k", "hostname", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("p")
    )
    thread = F.concat(
        F.lit("http://"), F.col("hostname"),
        F.when(F.col("p") % 50 == 7, F.lit("/forum/private/t")).otherwise(F.lit("/forum/t")),
        F.col("k").cast("string"),
    )
    url = F.when(F.col("p") == 1, thread).otherwise(
        F.concat(thread, F.lit("/page"), F.col("p").cast("string"))
    )
    pager = rows.select(
        url.alias("url"), F.col("k").alias("seed_id"), F.lit(0).alias("priority"),
        F.col("p").alias("page_num"), "hostname",
        ((F.col("p") * 13 + F.col("k") + seed) % 11).alias("link_no"),
    )
    frontier = frontier_from_urls(pager, -1)
    # seen: half the frontier, the first two out-link targets of every host,
    # and random hashes up to the configured size
    half = frontier.filter(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(2)) == 0)
    targets = hosts.select(
        F.explode(F.array(*[
            F.concat(F.lit("http://"), F.col("hostname"), F.lit(f"/forum/n{j}"))
            for j in (0, 1)
        ])).alias("url")
    )
    n_fill = max(n_seen - n_front // 2 - 2 * H, 0)
    seen = (
        half.select("url_hash")
        .unionByName(targets.select(F.xxhash64("url").alias("url_hash")))
        .unionByName(
            spark.range(n_fill).select(
                F.xxhash64("id", F.lit(seed), F.lit("fill")).alias("url_hash")
            )
        )
    )
    page_rows = pager.filter(
        F.pmod(F.xxhash64("url", F.lit(seed + 3)), F.lit(10)) != 0
    )
    html = F.concat(
        F.lit("<html><body><p>post "), F.col("page_num").cast("string"),
        F.lit(" on "), F.col("hostname"),
        F.lit('</p><a href="/forum/n'), F.col("link_no").cast("string"),
        F.lit('">more</a></body></html>'),
    )
    pages = page_rows.select(
        "url",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
    )
    links = page_rows.select(
        "url",
        F.concat(
            F.lit("http://"), F.col("hostname"), F.lit("/forum/n"),
            F.col("link_no").cast("string"),
        ).alias("link_url"),
    )
    robots = hosts.select("hostname")
    return frontier, seen, pages, links, robots


def _frontier_generate(spark, seed, params, cache_dir) -> None:
    frontier, seen, pages, links, robots = frontier_tables(spark, seed, params)
    pages_path = os.path.join(cache_dir, "pages.parquet")
    pages.write.mode("overwrite").parquet(pages_path)
    wh_root = os.path.join(cache_dir, "wh")
    wh = Warehouse(spark, wh_root)
    f_sid = wh.write("frontier", frontier)
    s_sid = wh.write("seen", seen)
    bloom_dir = os.path.join(wh_root, "bloom", "r-0001")
    dedup.build_partitioned_bloom(
        wh.read("seen", s_sid), bloom_dir, params["bloom_partitions"]
    ).unpersist()
    wh.commit_round(
        -1, {"frontier": f_sid, "seen": s_sid, "bloom_dir": bloom_dir},
        {"bootstrap": True},
    )
    robots_txt = {r["hostname"]: _ROBOTS_PRIVATE for r in robots.collect()}
    config = dict(
        budget=params["budget"], max_rounds=params["rounds"], robots=robots_txt,
        bloom_partitions=params["bloom_partitions"],
        salt_partitions=params["salt_partitions"],
    )
    # the committed state, read back as plain pandas frames
    front_pdf = wh.read("frontier", f_sid).toPandas()
    seen_arr = wh.read("seen", s_sid).toPandas()["url_hash"].to_numpy()
    page_pdf = spark.read.parquet(pages_path).select("url", "html").toPandas()
    link_pdf = links.select(
        "url", "link_url", F.xxhash64("link_url").alias("link_hash")
    ).toPandas()
    crawl, want_seen, fetched, front = recompute_rounds(
        front_pdf, seen_arr, link_pdf, params["budget"], params["rounds"]
    )
    html = dict(zip(page_pdf["url"], page_pdf["html"]))
    texts = {
        u: extract.extract_text(decode_html(bytes(html[u]), "text/html; charset=utf-8"))
        for u in fetched
    }
    front_df = spark.createDataFrame(front.astype(FRONTIER_DTYPES), FRONTIER_SCHEMA_DDL)
    np.save(os.path.join(cache_dir, "expect_seen.npy"), want_seen)
    _write_json(os.path.join(cache_dir, "inputs.json"), {
        "config": config, "max_rounds": params["rounds"],
        "wh_root": os.path.abspath(wh_root),
        "meta": {"frontier_rows": len(front_pdf), "seen_rows": len(seen_arr),
                 "pages": len(page_pdf)},
    })
    _write_json(os.path.join(cache_dir, "expect.json"), {
        "crawl_order": crawl, "texts": texts,
        "frontier_checksum": frontier_checksum(front_df),
    })


FRONTIER_CHECK_COLS = (
    "url", "url_hash", "host", "priority", "page_num", "seed_id", "discovered_in"
)
FRONTIER_SCHEMA_DDL = (
    "url string, url_hash long, host string, priority int, page_num int, "
    "seed_id long, discovered_in int"
)
FRONTIER_DTYPES = {"url_hash": "int64", "priority": "int32", "page_num": "int32",
                   "seed_id": "int64", "discovered_in": "int32"}


def frontier_checksum(df: DataFrame) -> list[int]:
    """[row count, sum of per-row xxhash64] over the frontier columns: an
    order-independent fingerprint of a frontier snapshot."""
    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*FRONTIER_CHECK_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), int(row["h"] or 0)]


def recompute_rounds(frontier: pd.DataFrame, seen: np.ndarray, links: pd.DataFrame,
                     budget: int, rounds: int):
    """The round contract (see ``bbcrawl_spark.oracle``) in plain pandas,
    for a fixed number of rounds from a committed state. ``links`` holds
    each page's one out-link (url -> link_url, link_hash); a URL has a page
    exactly when it has a row there.

    candidates = frontier minus robots ``/forum/private`` minus seen; per
    host the first ``budget`` by (priority, page_num, url_hash) are
    scheduled, the rest deferred; seen' = seen ∪ scheduled; fetched =
    scheduled ∩ pages; each fetched page contributes its out-link (same
    host, priority 1, page_num 0) unless in seen'; the next frontier is
    deferred ∪ new deduped by url_hash keeping the min (priority, page_num,
    discovered_in, seed_id, url).

    Returns (crawl order [[round, url]], sorted unique seen hashes, fetched
    urls, final frontier).
    """
    cols = list(FRONTIER_CHECK_COLS)
    seen_set = set(seen.tolist())
    link_of = links.set_index("url")
    f = frontier[cols]
    crawl, fetched = [], []
    for r in range(rounds):
        private = f["url"].str.match(r"^[a-z]+://[^/]+/forum/private")
        cand = f[~private & ~f["url_hash"].isin(seen_set)]
        cand = cand.sort_values(["host", "priority", "page_num", "url_hash"])
        rank = cand.groupby("host").cumcount()
        sched, deferred = cand[rank < budget], cand[rank >= budget]
        order = sched.sort_values(["priority", "page_num", "url_hash"])
        crawl.extend([r, u] for u in order["url"])
        seen_set.update(sched["url_hash"].tolist())
        got = sched[sched["url"].isin(link_of.index)]
        fetched.extend(got["url"])
        out = link_of.loc[got["url"]]
        new = pd.DataFrame({
            "url": out["link_url"].to_numpy(),
            "url_hash": out["link_hash"].to_numpy(),
            "host": got["host"].to_numpy(),
            "priority": 1,
            "page_num": 0,
            "seed_id": got["seed_id"].to_numpy(),
            "discovered_in": r,
        })
        new = new[~new["url_hash"].isin(seen_set)]
        f = (
            pd.concat([deferred, new], ignore_index=True)
            .sort_values(["url_hash", "priority", "page_num", "discovered_in", "seed_id", "url"])
            .drop_duplicates("url_hash", keep="first")
        )
    return crawl, np.unique(np.fromiter(seen_set, dtype=np.int64)), fetched, f


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------


def check(want: dict[str, Any], got: dict[str, Any]) -> list[str]:
    """Compare one crawl's read-back with the expectation; returns the
    mismatches (empty = pass). ``got`` holds crawl_order [(round, url)] in
    rank order, seen (int64 array), texts {url: text} and, when the
    expectation has one, frontier_checksum."""
    bad = []
    got_order = [[int(r), u] for r, u in got["crawl_order"]]
    if got_order != want["crawl_order"]:
        first = next(
            (i for i, (a, b) in enumerate(zip(got_order, want["crawl_order"])) if a != b),
            min(len(got_order), len(want["crawl_order"])),
        )
        bad.append(
            f"crawl order differs at rank {first + 1} "
            f"({len(got_order)} vs {len(want['crawl_order'])} rows)"
        )
    got_seen = np.unique(np.asarray(got["seen"], dtype=np.int64))
    if not np.array_equal(got_seen, want["seen"]):
        bad.append(f"seen set differs ({len(got_seen)} vs {len(want['seen'])} hashes)")
    if got["texts"] != want["texts"]:
        n = sum(got["texts"].get(u) != t for u, t in want["texts"].items())
        bad.append(f"texts differ ({n} urls; {len(got['texts'])} vs {len(want['texts'])})")
    if "frontier_checksum" in want and got.get("frontier_checksum") != want["frontier_checksum"]:
        bad.append("final frontier differs")
    return bad


def corrupted(got: dict[str, Any]) -> dict[str, Any]:
    """A copy of a read-back with one scheduled URL changed: the gate's
    negative self-check (the gate must reject it)."""
    order = [list(x) for x in got["crawl_order"]]
    if order:
        i = len(order) // 2
        order[i][1] = order[i][1] + "/corrupt"
    return {**got, "crawl_order": order}
