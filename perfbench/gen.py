"""Seeded input generators for the crawl and corpus workloads.

Every table is a pure function of (seed, sizes). The crawl webs are built
with native expressions over ``spark.range``; only image bytes pass through
Python (``mapInPandas``), because the image formats are defined by
``grawler.codecs``. Each generator also returns the outcome the workload's
output check expects, derived from the generator's own columns and never
from the engine.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

FMTS = ("rgb8", "png", "qlossy")
ALLOW_ALL = "User-agent: *\nAllow: /\n"
DENY_ALL = "User-agent: *\nDisallow: /\n"
# CrawlConfig.clock_origin_s: wave 0's clock. A robots row fetched a day
# before is fresh for every wave a workload runs; one fetched 60 days before
# is past the 45-day TTL and refreshed in wave 0.
CLOCK_ORIGIN = dt.datetime.fromtimestamp(1_700_000_000, tz=dt.timezone.utc)
FRESH_TS = CLOCK_ORIGIN - dt.timedelta(days=1)
STALE_TS = CLOCK_ORIGIN - dt.timedelta(days=60)


@dataclass
class Web:
    """Inputs for one crawl (the engine's view) plus the expected outcome."""

    pages: DataFrame
    robots_truth: DataFrame
    robots_cache: DataFrame
    images: DataFrame
    seeds: DataFrame
    expect: dict = field(default_factory=dict)

    def cache(self) -> None:
        """Persist and materialize every input."""
        for df in (self.pages, self.robots_truth, self.robots_cache,
                   self.images, self.seeds):
            df.persist().count()


def _h(seed: int, *cols) -> "F.Column":
    """Seeded 64-bit hash; every argument is widened to long first, so the
    same id hashes alike wherever it is built."""
    return F.xxhash64(F.lit(seed).cast("long"),
                      *[c.cast("long") if hasattr(c, "cast")
                        else F.lit(c).cast("long") for c in cols])


def _pmod(col, n: int):
    return F.pmod(col, F.lit(n)).cast("long")


def _host(seed: int, page_id, n_hosts: int):
    return _pmod(_h(seed, page_id, 0), n_hosts)


def host_name(idx) -> "F.Column":
    return F.concat(F.lit("host-"), idx.cast("string"), F.lit(".example"))


def _html(anchors: list, img_src=None) -> "F.Column":
    parts = [F.lit("<html><head><title>p</title></head><body>")]
    for a in anchors:
        parts.append(F.concat(F.lit('<a href="'), a, F.lit('">l</a>')))
    if img_src is not None:
        parts.append(F.concat(F.lit('<img src="'), img_src,
                              F.lit('" alt="cap">')))
    parts.append(F.lit("</body></html>"))
    return F.concat(*parts)


def _pages(df: DataFrame, status) -> DataFrame:
    return df.select(
        "url", "host", status.cast("short").alias("status"),
        F.lit("text/html").alias("content_type"),
        F.lit(10).alias("fetch_latency_ms"),
        "html",
        F.array().cast("array<string>").alias("child_urls"),
        F.array().cast("array<string>").alias("image_ids"),
    )


def image_dims(seed: int, idx: int) -> tuple[int, int, str]:
    """(w, h, fmt) of image `idx`, as `_images` generates it."""
    rng = np.random.default_rng([seed, idx])
    w, h = 6 + int(rng.integers(0, 11)), 6 + int(rng.integers(0, 11))
    return w, h, FMTS[idx % 3]


def _images(spark: SparkSession, seed: int, n_images: int,
            parts: int) -> DataFrame:
    """Image table: `n_images` small images in all three codecs. Image i
    has id img-<i, 6 digits>-0 (the engine's IMG_ID_PATTERN)."""

    def gen(batches):
        from grawler import codecs

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                w, h, fmt = image_dims(seed, i)
                rng = np.random.default_rng([seed, i, 1])
                px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                out.append((f"img-{i:06d}-0", codecs.encode(px, fmt),
                            w, h, fmt, f"caption {i}"))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h",
                                             "fmt", "caption"])

    return spark.range(0, n_images, 1, parts).mapInPandas(
        gen, schema=("image_id string, bytes binary, w int, h int, "
                     "fmt string, caption string"))


def _img_src(idx) -> "F.Column":
    fmt = F.element_at(F.array(*[F.lit(f) for f in FMTS]),
                       (idx % 3 + 1).cast("int"))
    return F.concat(F.lit("/img/"), F.format_string("img-%06d-0", idx),
                    F.lit("."), fmt)


# -------------------------------------------------------------- crawl web

def crawl_web(spark: SparkSession, seed: int, per_layer: int, layers: int,
              n_hosts: int, parts: int = 8) -> Web:
    """A layered web: `layers` layers of `per_layer` pages; layer 0 is the
    seed list.

    Page (l, i) has 3 out-links: two forward to layer-l+1 pages i+o and
    i+o+1 (mod per_layer, o from the seed), so every deeper page has
    exactly 2 parents, and one back to a random page of layer max(l-1, 0),
    which children dedup must drop against this wave's or the persisted
    seen set. Each page references 1 image drawn from a pool of per_layer
    images in all three codecs, so images repeat within a wave and across
    waves.

    Per page (seeded hash): 2 % answer 404, 1 % answer 503 and 1 % are
    missing from the web. Per host: 10 % have a fresh cached robots.txt
    that disallows, 20 % a stale cached row (refetched when the host first
    comes into play; a third of those now disallow), 10 % no cached row
    (fetched, allows), the rest a fresh cached row that allows."""
    n = per_layer * layers
    off = seed % per_layer
    layer = (F.col("id") / per_layer).cast("long")
    idx = F.pmod(F.col("id"), F.lit(per_layer)).cast("long")

    def url_of(lay, ix):
        pid = lay * per_layer + ix
        return F.concat(F.lit("http://"), host_name(_host(seed, pid, n_hosts)),
                        F.lit("/L"), lay.cast("string"), F.lit("/p/"),
                        ix.cast("string"))

    def fwd(k):
        return F.when(layer < layers - 1, url_of(
            layer + 1, F.pmod(idx + off + k, F.lit(per_layer)).cast("long")))

    back_layer = F.greatest(layer - 1, F.lit(0).cast("long"))
    back = url_of(back_layer, _pmod(_h(seed, F.col("id"), 11), per_layer))
    img = _pmod(_h(seed, F.col("id"), 14), per_layer)
    u = _pmod(_h(seed, F.col("id"), 21), 100)
    h = _host(seed, F.col("id"), n_hosts)
    gen = spark.range(0, n, 1, parts).select(
        F.col("id"), layer.alias("layer"),
        url_of(layer, idx).alias("url"),
        h.alias("h"), host_name(h).alias("host"),
        F.array_compact(F.array(fwd(0), fwd(1), back)).alias("links"),
        img.alias("img"),
        F.when(u < 2, 404).when(u < 3, 503).when(u < 4, -1)
        .otherwise(200).alias("st"),
        _html([F.coalesce(fwd(0), F.lit("#")),
               F.coalesce(fwd(1), F.lit("#")), back],
              _img_src(img)).alias("html"),
    ).persist()
    pages = _pages(gen.where(F.col("st") != -1), F.col("st"))
    r = _pmod(_h(seed, F.col("id"), 22), 30)
    hosts = spark.range(n_hosts).select(
        F.col("id").alias("h"), host_name(F.col("id")).alias("host"),
        r.alias("r")).persist()
    # r: 0-2 fresh deny, 3-8 stale (3-4 now deny), 9-11 uncached, else allow
    truth_deny = F.col("r") <= 4
    truth = hosts.select(
        "host", F.when(truth_deny, F.lit(DENY_ALL)).otherwise(F.lit(ALLOW_ALL))
        .alias("robots_txt"), F.lit(FRESH_TS).cast("timestamp")
        .alias("fetched_ts"))
    cache = hosts.where((F.col("r") < 9) | (F.col("r") > 11)).select(
        "host",
        F.when(F.col("r") <= 2, F.lit(DENY_ALL)).otherwise(F.lit(ALLOW_ALL))
        .alias("robots_txt"),
        F.when((F.col("r") >= 3) & (F.col("r") <= 8),
               F.lit(STALE_TS).cast("timestamp"))
        .otherwise(F.lit(FRESH_TS).cast("timestamp"))
        .alias("fetched_ts"))
    images = _images(spark, seed, per_layer, parts)
    expect = {"gen": gen, "hosts": hosts}
    return Web(pages, truth, cache, images,
               gen.where(F.col("layer") == 0).select("url"), expect)


def expected_crawl(web: Web, waves: int) -> dict:
    """The outcome of `waves` waves over `web`, derived from the
    generator's columns: per wave the scheduled URL set and the number of
    failed fetches among them, then the final seen set, store image ids
    and frontier.

    Rules: a candidate on a host whose robots.txt (after refresh)
    disallows leaves the frontier unscheduled; every other candidate is
    scheduled (no host has more pages per wave than its tokens); a page
    that answers 200 is seen and its links enqueue every target not yet
    seen; a page that fails is dropped without entering seen, so a later
    link re-enqueues it."""
    allowed = {r.host for r in web.expect["hosts"].where(F.col("r") > 4)
               .select("host").collect()}
    pages = {r.url: r for r in web.expect["gen"].select(
        "url", "host", "st", "links", "img").collect()}
    frontier = {r.url for r in web.seeds.collect()}
    seen: set = set()
    scheduled, errors = [], []
    for _ in range(waves):
        sched = {u for u in frontier - seen if pages[u].host in allowed}
        scheduled.append(sched)
        errors.append(sum(1 for u in sched if pages[u].st != 200))
        parsed = {u for u in sched if pages[u].st == 200}
        seen |= parsed
        frontier = {t for u in parsed for t in pages[u].links} - seen
    return {"scheduled": scheduled, "errors": errors, "seen": seen,
            "images": {pages[u].img for u in seen}, "frontier": frontier}


# -------------------------------------------------------------- corpus_ops

_VOCAB = ("a the batch part spark line column order small sort fast value "
          "scan hash slow group agg filter vector query table stream "
          "customer key window join data row merge big").split()
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def corpus_tables(seed: int, n_docs: int = 2000, n_vecs: int = 1000,
                  n_events: int = 20000, n_lines: int = 20000,
                  dim: int = 64) -> dict[str, pd.DataFrame]:
    """The four tables the corpus queries read, with the column types of
    the repository's testdata. A tenth of the documents are near copies of
    an earlier one (one to three words replaced), some of them copies of
    copies, so the dedup, similarity and components operators find real
    clusters; the embeddings form ten labelled clusters."""
    rng = np.random.default_rng([seed, 7])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(max(0, i - 40), i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(12, 70))))
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[int(k)] for k in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = (centers[labels] + rng.normal(0, 0.4, (n_vecs, dim))
            ).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs), "label": labels})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = t0 + np.sort(rng.integers(0, 86_400_000_000, n_events)
                         ).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Series(ev_ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, n_events // 40), n_events
                                ).astype(np.int64),
        "event_type": [_EVENT_TYPES[int(k)] for k in
                       rng.integers(0, len(_EVENT_TYPES), n_events)],
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {int(k)}}}' for k in
                  rng.integers(0, 100, n_events)],
    })
    d0 = np.datetime64("1992-01-01T00:00:00", "us")
    ship = d0 + (rng.integers(0, 2500, n_lines) * 86_400_000_000
                 ).astype("timedelta64[us]")
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": (np.arange(n_lines) // 4).astype(np.int64),
        "l_partkey": rng.integers(1, 20000, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(1, 1000, n_lines).astype(np.int64),
        "l_linenumber": (np.arange(n_lines) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(9, 110, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("A", "N", "R")[int(k)] for k in
                         rng.integers(0, 3, n_lines)],
        "l_linestatus": [("O", "F")[int(k)] for k in
                         rng.integers(0, 2, n_lines)],
        "l_shipdate": pd.Series(ship).astype("datetime64[us]"),
    })
    return {"documents": documents, "embeddings": embeddings,
            "events": events, "lineitem": lineitem}


def write_corpus(out_dir: str, seed: int, **sizes) -> None:
    import os

    os.makedirs(out_dir, exist_ok=True)
    for name, df in corpus_tables(seed, **sizes).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
