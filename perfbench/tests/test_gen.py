"""Invariants of the seeded generators at a tiny size."""

import os

import pyspark.sql.functions as F
import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from grawler.session import get_spark

    from perfbench.run import stop_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.executorEnv.PYTHONPATH": ROOT,
                              "spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark(s)


@pytest.fixture(scope="module")
def web(spark):
    return gen.crawl_web(spark, seed=5, per_layer=40, layers=3, n_hosts=12,
                         parts=2)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_same_seed_same_web_other_seed_other_web(spark, web):
    again = gen.crawl_web(spark, seed=5, per_layer=40, layers=3, n_hosts=12,
                          parts=2)
    other = gen.crawl_web(spark, seed=6, per_layer=40, layers=3, n_hosts=12,
                          parts=2)
    assert _rows(web.pages) == _rows(again.pages)
    assert _rows(web.images) == _rows(again.images)
    assert _rows(web.pages.select("url", "html")) != \
        _rows(other.pages.select("url", "html"))


def test_links_stay_in_the_web_and_each_deeper_page_has_two_parents(web):
    g = web.expect["gen"]
    urls = {r.url for r in g.select("url").collect()}
    links = g.select("layer", F.explode("links").alias("t")).collect()
    assert {r.t for r in links} <= urls
    fwd = {}
    for r in g.select("url", "layer", "links").collect():
        for t in r.links[:-1] if r.layer < 2 else []:
            fwd[t] = fwd.get(t, 0) + 1
    deeper = {r.url for r in g.where("layer > 0").select("url").collect()}
    assert set(fwd) == deeper and set(fwd.values()) == {2}


def test_images_exist_in_all_formats_with_the_generators_dims(web):
    imgs = web.images.collect()
    assert {r.fmt for r in imgs} == set(gen.FMTS)
    for r in imgs:
        i = int(r.image_id.split("-")[1])
        assert (r.w, r.h, r.fmt) == gen.image_dims(5, i)
    refs = {r.img for r in web.expect["gen"].select("img").collect()}
    assert 0 < len(refs) < 120  # images repeat across pages


def test_errors_and_robots_classes_are_present(web):
    st = {r.st for r in web.expect["gen"].select("st").collect()}
    assert 200 in st
    n_pages = web.pages.count()
    assert n_pages < web.expect["gen"].count() or -1 not in st
    hosts = web.expect["hosts"].collect()
    cached = {r.host for r in web.robots_cache.collect()}
    for h in hosts:
        assert (h.host in cached) == (not 9 <= h.r <= 11)


def test_expected_crawl_is_consistent(web):
    e = gen.expected_crawl(web, 2)
    s0, s1 = e["scheduled"]
    assert s0 and s1 and not (e["seen"] - (s0 | s1))
    assert not (e["frontier"] & e["seen"])
    deny = {r.host for r in web.expect["hosts"].where("r <= 4").collect()}
    host = {r.url: r.host for r in web.expect["gen"].collect()}
    assert not any(host[u] in deny for u in s0 | s1)


def test_corpus_tables_are_seeded():
    a = gen.corpus_tables(3, n_docs=50, n_vecs=20, n_events=100,
                          n_lines=100)
    b = gen.corpus_tables(3, n_docs=50, n_vecs=20, n_events=100,
                          n_lines=100)
    c = gen.corpus_tables(4, n_docs=50, n_vecs=20, n_events=100,
                          n_lines=100)
    for name in a:
        assert a[name].drop(columns=[x for x in a[name].columns
                                     if x == "embedding"]).equals(
            b[name].drop(columns=[x for x in b[name].columns
                                  if x == "embedding"]))
    assert not a["documents"]["text"].equals(c["documents"]["text"])
    assert a["documents"]["n_chars"].tolist() == \
        a["documents"]["text"].str.len().tolist()
