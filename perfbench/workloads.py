"""The benchmark's workloads. Each one sets up its inputs, runs timed
operations in a closed loop (one operation after another from one driver
thread; the engine's own thread pools are the only concurrency) and checks
every operation's output outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyspark.sql.functions as F

from . import gen


class Workload:
    name = ""
    item = ""  # what items_per_s counts
    # driver heap: the workload's heap use reaches it early in a run, so
    # the process tree's peak memory does not depend on how far the heap
    # happened to grow before the run ended
    HEAP = "2g"
    layer_prefixes: tuple = ("",)  # the per-layer metrics its ops run

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        # set while an operation runs traced: query spans, state counts
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.facts: list[dict] = []  # per timed op, for the trace report

    def build_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self) -> int:
        """One timed operation; returns the number of items it completed."""
        raise NotImplementedError

    def check(self) -> None:
        """Check the last operation's output; each failed operation is
        recorded through `fail`."""
        raise NotImplementedError

    def cleanup_op(self) -> None:
        """Drop what the last operation left behind."""

    def typical_op_s(self, walls: list[float]) -> float:
        """The wall of a typical timed operation: the median one."""
        return statistics.median(walls)

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.build_inputs()
        t1 = time.perf_counter()
        self.warm_up()
        return {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


# ------------------------------------------------------------- wave_fresh

class WaveFresh(Workload):
    """One crawl wave from an empty state, on a fresh warehouse each time.

    The web is the seed layer of a seeded layered web (10,000 pages, 500
    hosts): the per-URL payload path does the work (the fetch join, robots
    refresh for stale and uncached hosts, parse, child canonicalize and
    first-parent dedup, image decode with repeats, the ten-table commit).
    The warm-up runs the same wave once, untimed and checked, on its own
    warehouse, so the timed waves reuse its compiled code and Python
    workers."""

    name = "wave_fresh"
    item = "url"
    PAGES = 10_000
    HOSTS = 500

    def _cfg(self):
        from grawler.conf import CrawlConfig

        # every host's seed pages fit its tokens, so no candidate is
        # deferred and the expected schedule follows from the generator
        return CrawlConfig(wave_duration_ms=700 * self.PAGES,
                           wave_cap=self.PAGES)

    def build_inputs(self) -> None:
        self.web = gen.crawl_web(self.spark, self.seed, self.PAGES, 2,
                                 self.HOSTS)
        self.web.cache()

    def warm_up(self) -> None:
        self.op()
        self.check()
        self.cleanup_op()

    def op(self) -> int:
        from grawler.engine import CrawlEngine

        self.warehouse = os.path.join(self.work_dir,
                                      f"op{self.attempted:03d}")
        w = self.web
        done = {}
        t0 = time.perf_counter()
        self.attempted += 1
        CrawlEngine(self.spark, w.pages, w.robots_truth, w.images,
                    self.warehouse, self._cfg(),
                    robots_cache_init=w.robots_cache,
                    ).run(w.seeds, max_waves=1,
                          on_wave=lambda _w, m, _wall: done.update(m))
        self.op_wall = time.perf_counter() - t0
        return int(done.get("n_scheduled", 0))

    # -------------------------------------------------------- output check

    def _expected(self) -> dict:
        if getattr(self, "_exp", None) is None:
            e = gen.expected_crawl(self.web, 1)
            e["images"] = {f"img-{i:06d}-0": gen.image_dims(self.seed, i)
                           for i in e["images"]}
            self._exp = e
        return self._exp

    def check(self) -> None:
        from grawler.store import LocalSnapshotStore

        exp = self._expected()
        st = LocalSnapshotStore(self.spark, self.warehouse)
        bad = []
        trace = st.read("trace").collect()
        for w, want in enumerate(exp["scheduled"]):
            rows = [r for r in trace if r.wave == w]
            if {r.url for r in rows} != want or len(rows) != len(want):
                bad.append(f"wave {w}: scheduled set differs "
                           f"({len(rows)} rows, {len(want)} expected)")
            if sorted(r.seq for r in rows) != list(range(len(rows))):
                bad.append(f"wave {w}: seq is not dense 0..n-1")
        seen = [r.url for r in st.read("seen").collect()]
        if set(seen) != exp["seen"] or len(seen) != len(exp["seen"]):
            bad.append(f"seen: {len(seen)} urls, {len(exp['seen'])} "
                       "expected")
        store = {r.image_id: (r.w, r.h, r.fmt)
                 for r in st.read("store").collect()}
        if store != exp["images"]:
            bad.append(f"store: {len(store)} images, "
                       f"{len(exp['images'])} expected (or w/h/fmt differ)")
        frontier = [r.url for r in st.read("frontier").collect()]
        if set(frontier) != exp["frontier"] or \
                len(frontier) != len(exp["frontier"]):
            bad.append(f"frontier: {len(frontier)} urls, "
                       f"{len(exp['frontier'])} expected")
        errors = {r.wave: r.errors for r in st.read("metrics")
                  .where(F.col("partition_id") == -1).collect()}
        for w, want in enumerate(exp["errors"]):
            if errors.get(w) != want:
                bad.append(f"wave {w}: engine counted {errors.get(w)} "
                           f"fetch errors, {want} error pages fetched")
        if self.tracer is not None:
            self.facts.append(self._facts(st, trace, errors))
        if bad:
            self.fail("; ".join(bad))

    def _facts(self, st, trace, errors) -> dict:
        """Counts the trace report needs, read from the committed state."""
        wave = max(r.wave for r in trace)
        m = st.manifests()[-1]

        def n_rows(table, where=None):
            e = m["tables"].get(table)
            if not e or not e["files"]:
                return 0
            df = self.spark.read.parquet(e["path"])
            return df.where(where).count() if where is not None else \
                df.count()

        store_bytes = 0
        if m["tables"].get("store", {}).get("files"):
            store_bytes = self.spark.read.parquet(
                m["tables"]["store"]["path"]).select(
                F.sum(F.length("bytes"))).first()[0] or 0
        return {
            "scheduled": sum(1 for r in trace if r.wave == wave),
            "errors": errors.get(wave, 0),
            "stored": n_rows("store"),
            "store_bytes": int(store_bytes),
            "frontier_adds": n_rows("frontier", F.col("_op") == "add"),
            # rows (re)fetched this wave carry its clock
            "robots_refreshed": n_rows("robots_cache", F.col("fetched_ts")
                                       >= F.lit(gen.CLOCK_ORIGIN)),
            "files_written": sum(len(e["files"])
                                 for e in m["tables"].values()),
        }

    def cleanup_op(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)


# ------------------------------------------------------------- corpus_ops

# The entry queries that run grawler.operators code and whose oracle_sql()
# is a query over the input tables. dedup_minhash_lsh, dedup_simhash and
# sim_ann_lsh are left out because their oracles are VALUES tables computed
# from the fixed testdata, which cannot check seeded inputs;
# dedup_components and dedup_components_star because one warm pass of them
# takes ~6 s and ~30 s on 4 cores, which would more than double a run.
QUERIES = ("a1_word_freq", "dedup_exact", "sim_cosine_topk", "text_quality",
           "text_langid",
           # the exact seen probe (exactcheck) over a bucketed seen table the
           # store commits and compacts: no timed fresh wave probes state
           "f3_seen_bucketed_probe")


class CorpusOps(Workload):
    """One pass over entry queries that run grawler.operators code (dedup,
    similarity, textstats), each written to the noop sink, on seeded
    corpus tables: these modules run in no crawl wave."""

    name = "corpus_ops"
    item = "query"
    HEAP = "1g"
    WARM_PASSES = 1
    layer_prefixes = ("exactcheck.", "store.", "operators.")

    def build_inputs(self) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.query_s: dict[str, list[float]] = {}
        self.data = os.path.join(self.work_dir, "corpus")
        gen.write_corpus(self.data, self.seed)

    def warm_up(self) -> None:
        # the first pass collects every result: the output check compares
        # them with the DuckDB oracle after the timed region; the untimed
        # noop pass after it takes the first, slowest fall of pass walls
        # (JIT, caches) out of the timed passes
        self.results = {}
        qs = self.entry.queries()
        for q in QUERIES:
            self.attempted += 1
            self.results[q] = qs[q](self.spark, self.data).toPandas()
        for _ in range(self.WARM_PASSES):
            self.op()
        self.query_s.clear()

    def op(self) -> int:
        qs = self.entry.queries()
        t0 = time.perf_counter()
        for q in QUERIES:
            self.attempted += 1
            a = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.span(f"operators.{q}", "operators"):
                    self._noop(qs[q])
            else:
                self._noop(qs[q])
            self.query_s.setdefault(q, []).append(time.perf_counter() - a)
        self.op_wall = time.perf_counter() - t0
        return len(QUERIES)

    def typical_op_s(self, walls: list[float]) -> float:
        """A typical pass: the sum of each query's median wall over the
        passes, so a stall in one query of one pass does not move it."""
        return sum(statistics.median(v) for v in self.query_s.values())

    def _noop(self, q) -> None:
        q(self.spark, self.data).write.format("noop").mode(
            "overwrite").save()

    def check(self) -> None:
        # the timed passes write to the noop sink; the results checked are
        # the warm-up pass's, once
        if getattr(self, "_checked", False):
            return
        self._checked = True
        import duckdb

        from tools.check_entry import normalize

        con = duckdb.connect()
        for t in ("documents", "embeddings", "events", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.data, t + '.parquet')}')")
        oracles = self.entry.oracle_sql()
        for q in QUERIES:
            a = normalize(self.results[q])
            b = normalize(con.execute(oracles[q]).fetchdf())
            if list(a.columns) != list(b.columns) or len(a) != len(b) \
                    or not a.equals(b):
                self.fail(f"{q}: result differs from its oracle_sql() "
                          f"({len(a)} rows, {len(b)} expected)")
        con.close()


WORKLOADS = {w.name: w for w in (WaveFresh, CorpusOps)}
