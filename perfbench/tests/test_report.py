"""Attribution of recorded event logs from traced runs, trimmed to the
plan nodes and metrics the report reads: part of one crawl wave (the
children exact check and the start of the ten-table commit pool), and the
bucket histogram job of one exact check (corpus_ops,
f3_seen_bucketed_probe: 2,000 documents, 1,334 of them probed, 4 buckets)."""

import json
import os

import pytest

from perfbench import report

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "spans_wave.json")) as f:
        d = json.load(f)
    log = report.EventLog(os.path.join(DATA, "eventlog_wave.json.gz"))
    return log, d["spans"], d["wave"]


def test_writes_are_split_by_output_path(recorded):
    log, spans, _wave = recorded
    labels = report.label_jobs(log, {s["id"]: s for s in spans})
    writes = {lab for lab in labels.values() if lab.startswith("store.write.")}
    assert {"store.write.frontier", "store.write.seen",
            "store.write.bloom"} <= writes
    # the pool's writes overlap in time, so only the path tells them apart
    iv = sorted((j["start"], j["end"], labels[j["id"]])
                for j in log.jobs.values()
                if labels[j["id"]].startswith("store.write."))
    assert any(b[0] < a[1] and a[2] != b[2] for a, b in zip(iv, iv[1:]))


def test_jobs_under_a_wrapped_call_take_its_layer(recorded):
    log, spans, _wave = recorded
    by_id = {s["id"]: s for s in spans}
    labels = report.label_jobs(log, by_id)
    tagged = [j for j in log.jobs.values()
              if by_id.get(j["span"], {}).get("name") == "bucketed_anti_join"]
    assert tagged
    assert {labels[j["id"]] for j in tagged} == {"exactcheck"}


def test_self_times_and_gap_account_for_the_wall(recorded):
    log, spans, wave = recorded
    p = report.wave_profile(log, spans, wave, {"scheduled": 1})
    m = p["metrics"]
    assert sum(p["self_s"].values()) + m["engine.driver_gap_s"] == \
        pytest.approx(p["wall_s"], abs=1e-6)
    assert m["trace.unexplained_s"] == p["self_s"].get("engine", 0.0)
    assert m["store.write_s.frontier"] > 0
    assert m["engine.jobs_per_wave"] == len(
        [j for j in log.jobs.values()
         if wave["start"] <= j["start"] <= wave["end"]])


def test_self_times_share_overlaps_equally():
    jobs = [{"id": 1, "start": 0.0, "end": 2.0},
            {"id": 2, "start": 1.0, "end": 3.0}]
    self_s, gap = report._self_times(jobs, {1: "a", 2: "b"}, 0.0, 4.0)
    assert self_s == pytest.approx({"a": 1.5, "b": 1.5})
    assert gap == pytest.approx(1.0)


def test_exact_check_counts_come_from_its_histogram_job():
    with open(os.path.join(DATA, "spans_probe.json")) as f:
        spans = json.load(f)["spans"]
    log = report.EventLog(os.path.join(DATA, "eventlog_probe.json.gz"))
    (call,) = [s for s in spans if s["name"] == "bucketed_anti_join"]
    (eid,) = {j["exec"] for j in log.jobs.values() if j["span"] == call["id"]}
    assert log.histogram(eid) == (1334, 4)
    query = next(s for s in spans if s["layer"] == "operators")
    m = report.wave_profile(log, spans, query)["metrics"]
    assert m["exactcheck.calls"] == 1
    assert m["exactcheck.probe_rows"] == 1334
    assert m["exactcheck.bucket_read_ratio"] == 1.0
    assert m["exactcheck.broadcast_share"] == 1.0
