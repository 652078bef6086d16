"""Trace report: join the traced run's spans with its Spark event log.

Every Spark job is attributed to one label, by the first rule that holds:

1. its SQL plan writes a state table (``.../<table>/wave=N``):
   ``store.write.<table>``; the commit pool's ten concurrent writes are
   told apart this way, which time intervals alone cannot do;
2. it ran under a wrapped call (the span id the wrapper set as a Spark
   job property): that span's layer, ``store.read`` for state reads;
3. it ran ``parse_doc_udf`` (the fetch join and the parse pass):
   ``fetch``; ``decode_phash_udf``: ``codecs``; ``agent_allowed`` (the
   candidate pipeline up to the politeness windows): ``scheduler``. A
   job that only reads a cached result naming a UDF does not count;
4. anything else the wave ran: ``engine`` (the jobs no rule places in a
   module: the wave's unexplained part).

Python UDF metrics ("time to run Python workers", "data sent to Python
workers", rows) are summed per UDF node and mapped to the UDF's module.

A wave's wall splits into label self times and the driver gap (no job
running). Where jobs overlap, each instant is shared equally among the
labels running then, so the self times plus the gap sum to the wall; each
wave's line prints the gap and the unexplained (``engine``) self time.

The exact check's probe rows and buckets come from the bucket histogram
job each ``bucketed_anti_join`` call runs under its span: the rows into
its partial aggregate and the rows out of its final one.

Usage: python3 perfbench/report.py <spans.json> <eventlog> [facts.json]
(the files a traced run keeps under .perfbench/trace-<workload>/; the
facts, keyed by run_wave span id, are counts read from committed state)
"""

from __future__ import annotations

import gzip
import json
import re
import statistics
import sys
from collections import defaultdict

SPAN_PROP = "perfbench.span"
TABLES = ("frontier", "seen", "store", "store_keys", "bloom", "trace",
          "pages_meta", "metrics", "host_budget", "robots_cache")
UDF_LAYER = {
    "_canonicalize_udf_raw": "urlnorm",
    "parse_doc_udf": "htmlparse",
    "decode_phash_udf": "codecs",
    "agent_allowed": "robots",
}
MB = 1e6
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand file:\S*?/(\w+)/"
                       r"wave=(\d+)")


# ------------------------------------------------------------ event log

def _walk(node, ancestors=()):
    yield node, ancestors
    for c in node.get("children", []):
        yield from _walk(c, ancestors + (node,))


def _rows_metric(node) -> int | None:
    return next((m["accumulatorId"] for m in node.get("metrics", [])
                 if m["name"] == "number of output rows"), None)


class EventLog:
    """The parts of a Spark event log the report uses."""

    def __init__(self, path: str):
        # execution id -> the write commands' node strings (output paths)
        self.writes: dict[int, str] = defaultdict(str)
        self.jobs: dict[int, dict] = {}
        # execution id -> its latest (adaptive) plan
        self.plans: dict[int, dict] = {}
        self.stage_tasks: dict[int, list] = defaultdict(list)
        self.stage_exec: dict[int, int | None] = {}
        # (execution id, accumulator id) -> sum of the updates the
        # execution's own tasks (or its driver) made: a cached plan's
        # metrics appear in every plan that reads the cache, but only the
        # execution that ran the node updates them
        self.accum: dict[tuple, float] = defaultdict(float)
        # accumulator id -> (node name, node string, metric name, type)
        self.metric_of: dict[int, tuple] = {}
        # execution id -> {udf name: rows-metric ids of the nearest Filter
        # above that UDF's Python node}
        self.udf_filter: dict[int, dict] = defaultdict(
            lambda: defaultdict(set))
        # execution id -> {udf name: rows-metric ids of its Python nodes}
        self.udf_rows: dict[int, dict] = defaultdict(
            lambda: defaultdict(set))
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, eid: int, info: dict) -> None:
        self.plans[eid] = info
        for node, anc in _walk(info):
            s = node.get("simpleString", "")
            if "InsertIntoHadoopFsRelationCommand" in node["nodeName"]:
                self.writes[eid] += "\n" + s
            for m in node.get("metrics", []):
                self.metric_of[m["accumulatorId"]] = (
                    node["nodeName"], s, m["name"], m["metricType"])
            if "Python" not in node["nodeName"]:
                continue
            filt = next((a for a in reversed(anc)
                         if a["nodeName"] == "Filter"), None)
            for udf in UDF_LAYER:
                if udf not in s:
                    continue
                if _rows_metric(node):
                    self.udf_rows[eid][udf].add(_rows_metric(node))
                if filt is not None and _rows_metric(filt):
                    self.udf_filter[eid][udf].add(_rows_metric(filt))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for aid, v in e["accumUpdates"]:
                self.accum[(e["executionId"], aid)] += float(v)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1000,
                "exec": int(eid) if eid is not None else None,
                "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP)
                else None,
                "stages": list(e["Stage IDs"])}
            for s in e["Stage IDs"]:
                self.stage_exec[s] = self.jobs[e["Job ID"]]["exec"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.stage_tasks[e["Stage ID"]].append({
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "out_bytes": (m.get("Output Metrics") or {})
                .get("Bytes Written", 0),
            })
            eid = self.stage_exec.get(e["Stage ID"])
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        self.accum[(eid, a["ID"])] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass

    def ran_udf(self, eid, udf: str) -> bool:
        """Whether execution `eid` ran `udf` (its Python node produced
        rows), as opposed to reading a cached result that mentions it."""
        return any(self.accum.get((eid, a), 0) > 0
                   for a in self.udf_rows.get(eid, {}).get(udf, ()))

    def histogram(self, eid) -> tuple[float, float]:
        """(probe rows, buckets) of execution `eid`, a bucket histogram:
        the rows into its partial aggregate (those of the nearest node
        under it that counts rows) and the rows out of its final one."""
        aggs = [n for n, _ in _walk(self.plans.get(eid, {}))
                if n.get("nodeName") == "HashAggregate"]
        if len(aggs) < 2:
            return 0.0, 0.0
        final, partial = aggs[:2]  # the exchange's two sides
        todo = list(partial.get("children", []))
        while todo and _rows_metric(todo[0]) is None:
            todo = todo[1:] + todo[0].get("children", [])

        def rows(node):
            return self.accum.get((eid, _rows_metric(node)), 0.0)

        return (rows(todo[0]) if todo else 0.0), rows(final)

    def tasks(self, job: dict) -> list[dict]:
        return [t for s in job["stages"] for t in self.stage_tasks.get(s, [])]

    def udf_metrics(self, eids: set[int]) -> dict:
        """{layer: {py_s, py_mb, rows}} over the UDF nodes of executions
        `eids`."""
        out: dict = defaultdict(lambda: {"py_s": 0.0, "py_mb": 0.0,
                                         "rows": 0.0})
        for (eid, aid), v in self.accum.items():
            if eid not in eids or aid not in self.metric_of:
                continue
            node, text, name, mtype = self.metric_of[aid]
            layer = next((lay for udf, lay in UDF_LAYER.items()
                          if udf in text), None)
            if layer is None or "Python" not in node and \
                    "InPandas" not in node:
                continue
            if name == "time to run Python workers":
                out[layer]["py_s"] += v / (1e9 if mtype == "nsTiming"
                                           else 1e3)
            elif name == "data sent to Python workers":
                out[layer]["py_mb"] += v / MB
            elif name == "number of output rows":
                out[layer]["rows"] += v
        return out

    def udf_rows_sum(self, eids, udf: str, arg: str = "") -> float:
        """Rows through the Python nodes that run `udf` (on a column whose
        name contains `arg`)."""
        return sum(v for (e, a), v in self.accum.items()
                   if e in eids and a in self.udf_rows.get(e, {}).get(udf, ())
                   and f"{udf}({arg}" in self.metric_of[a][1])

    def filtered_rows(self, eids: set[int], udf: str) -> float:
        """Rows that passed the Filter right above the `udf` Python node."""
        ids = set().union(*[self.udf_filter[e][udf] for e in eids
                            if e in self.udf_filter] or [set()])
        return sum(v for (e, a), v in self.accum.items()
                   if e in eids and a in ids)


# ---------------------------------------------------------- attribution

def label_jobs(log: EventLog, spans: dict[int, dict]) -> dict[int, str]:
    labels = {}
    for jid, job in log.jobs.items():
        w = _WRITE_RE.search(log.writes.get(job["exec"], ""))
        sp = spans.get(job["span"])
        if w and w.group(1) in TABLES:
            labels[jid] = f"store.write.{w.group(1)}"
        elif sp is not None and sp["layer"] != "engine":
            labels[jid] = ("store.read" if sp["name"].startswith("read")
                           else sp["layer"] if sp["layer"] != "operators"
                           else sp["name"])
        elif log.ran_udf(job["exec"], "parse_doc_udf"):
            labels[jid] = "fetch"
        elif log.ran_udf(job["exec"], "decode_phash_udf"):
            labels[jid] = "codecs"
        elif log.ran_udf(job["exec"], "agent_allowed"):
            labels[jid] = "scheduler"
        else:
            labels[jid] = "engine"
    return labels


def _self_times(jobs: list[dict], labels: dict, start: float,
                end: float) -> tuple[dict, float]:
    """Share [start, end] among the labels of the jobs running at each
    instant; returns ({label: s}, driver gap s)."""
    edges = {start, end}
    iv = []
    for j in jobs:
        a, b = max(j["start"], start), min(j.get("end", end), end)
        if b > a:
            iv.append((a, b, labels[j["id"]]))
            edges.update((a, b))
    edges = sorted(edges)
    out: dict = defaultdict(float)
    gap = 0.0
    for a, b in zip(edges, edges[1:]):
        running = {lab for (x, y, lab) in iv if x <= a and y >= b}
        if not running:
            gap += b - a
        for lab in running:
            out[lab] += (b - a) / len(running)
    return dict(out), gap


def _union(intervals: list[tuple]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


def wave_profile(log: EventLog, spans: list[dict], wave_span: dict,
                 facts: dict | None = None) -> dict:
    """Every per-layer metric for one wave (the `run_wave` span)."""
    by_id = {s["id"]: s for s in spans}
    labels = label_jobs(log, by_id)
    s0, s1 = wave_span["start"], wave_span["end"]
    jobs = [j for j in log.jobs.values() if s0 <= j["start"] <= s1]
    wall = s1 - s0
    self_s, gap = _self_times(jobs, labels, s0, s1)
    eids = {j["exec"] for j in jobs if j["exec"] is not None}
    udf = log.udf_metrics(eids)
    facts = facts or {}

    def jobs_of(pred):
        return [j for j in jobs if pred(labels[j["id"]])]

    def sum_tasks(js, key):
        return sum(t[key] for j in js for t in log.tasks(j))

    def wall_of(js):
        return _union([(j["start"], j.get("end", s1)) for j in js])

    def spans_named(*names):
        return [s for s in spans if s["name"] in names
                and s0 <= s["start"] <= s1]

    def span_wall(ss):
        return _union([(s["start"], s["end"]) for s in ss])

    m: dict = {}
    all_tasks = [t for j in jobs for t in log.tasks(j)]
    m["engine.jobs_per_wave"] = len(jobs)
    m["engine.driver_gap_s"] = gap
    m["engine.task_s"] = sum(t["run_s"] for t in all_tasks)
    m["engine.shuffle_mb"] = sum(t["shuffle_w"] for t in all_tasks) / MB
    m["engine.spill_mb"] = sum(t["spill"] for t in all_tasks) / MB
    m["engine.gc_s"] = sum(t["gc_s"] for t in all_tasks)

    # children dedup (step 7): canonicalize + first-parent groupBy run in
    # the exact check of the new children against persisted seen (which
    # caches them) or, on wave 0, in the frontier table write. The engine
    # canonicalizes the exploded child links as column `href`.
    probes = spans_named("bloom_anti_join", "bloom_anti_join_cogroup")
    in_probe = {p["id"] for p in probes}
    kid_checks = [s for s in spans_named("bucketed_anti_join")
                  if s.get("key") == "url" and s["parent"] not in in_probe]
    fj = jobs_of(lambda lab: lab == "store.write.frontier") + [
        j for j in jobs if j["span"] in {s["id"] for s in kid_checks}]
    kids = log.udf_rows_sum(eids, "_canonicalize_udf_raw", "href")
    m["engine.children_in_rows"] = kids
    m["engine.children_new_ratio"] = (facts.get("frontier_adds", 0) / kids
                                      if kids else 0.0)
    m["engine.children_s"] = wall_of(fj)
    m["engine.children_shuffle_mb"] = sum_tasks(fj, "shuffle_w") / MB

    for layer in ("urlnorm", "htmlparse", "codecs"):
        u = udf.get(layer, {"rows": 0, "py_s": 0, "py_mb": 0})
        key = {"codecs": "codecs.images"}.get(layer, f"{layer}.rows")
        m[key] = u["rows"]
        m[f"{layer}.py_s"] = u["py_s"]
        m[f"{layer}.py_mb"] = u["py_mb"]
    m["codecs.ok_ratio"] = (facts.get("stored", 0) / m["codecs.images"]
                            if m["codecs.images"] else 0.0)

    m["bloom.build_s"] = wall_of(jobs_of(lambda lab: lab ==
                                         "store.write.bloom"))

    calls = spans_named("bucketed_anti_join")
    hist = [log.histogram(next((j["exec"] for j in jobs
                                if j["span"] == s["id"]), None))
            for s in calls]
    m["exactcheck.calls"] = len(calls)
    m["exactcheck.s"] = span_wall(calls)
    m["exactcheck.probe_rows"] = sum(r for r, _ in hist)
    nb = sum(s.get("nb", 0) for s in calls)
    m["exactcheck.bucket_read_ratio"] = (
        sum(b for _, b in hist) / nb if nb else 0.0)
    m["exactcheck.broadcast_share"] = (
        sum(1 for (r, _), s in zip(hist, calls) if r <= s.get("bmax", 0))
        / len(calls) if calls else 0.0)

    allowed = log.filtered_rows(eids, "agent_allowed")
    checked = log.udf_rows_sum(eids, "agent_allowed")
    m["robots.refreshed_hosts"] = facts.get("robots_refreshed", 0)
    m["robots.refresh_s"] = span_wall(spans_named("fetch_robots"))
    m["robots.py_s"] = udf.get("robots", {}).get("py_s", 0.0)
    m["robots.denied_ratio"] = 1 - allowed / checked if checked else 0.0

    sj = jobs_of(lambda lab: lab == "scheduler")
    sched = facts.get("scheduled", 0)
    m["scheduler.s"] = self_s.get("scheduler", 0.0)
    m["scheduler.in_rows"] = allowed
    m["scheduler.shuffle_mb"] = sum_tasks(sj, "shuffle_w") / MB
    m["scheduler.task_skew"] = _skew(log, sj)

    m["fetch.rows"] = sched
    m["fetch.s"] = self_s.get("fetch", 0.0)
    m["fetch.error_ratio"] = facts.get("errors", 0) / sched if sched else 0.0

    wj = jobs_of(lambda lab: lab.startswith("store.write."))
    commits = spans_named("commit_wave")
    m["store.commit_s"] = span_wall(commits)
    m["store.commit_jobs"] = len([j for j in jobs if j["span"] in
                                  {s["id"] for s in commits}
                                  or labels[j["id"]].startswith(
                                      "store.write.")])
    for t in TABLES:
        m[f"store.write_s.{t}"] = wall_of(jobs_of(
            lambda lab, t=t: lab == f"store.write.{t}"))
    m["store.read_s"] = span_wall(spans_named("read", "read_bucketed"))
    written = sum_tasks(wj, "out_bytes")
    m["store.mb_written"] = written / MB
    m["store.files_written"] = facts.get("files_written", 0)
    m["store.bytes_per_image_byte"] = (written / facts["store_bytes"]
                                       if facts.get("store_bytes") else 0.0)
    m["trace.unexplained_s"] = self_s.get("engine", 0.0)
    return {"wave": wave_span["wave"], "wall_s": wall, "self_s": self_s,
            "metrics": m}


def _skew(log: EventLog, jobs: list[dict]) -> float:
    """Largest max/median task time over the stages of `jobs`."""
    worst = 0.0
    for j in jobs:
        for s in j["stages"]:
            ts = [t["run_s"] for t in log.stage_tasks.get(s, [])]
            med = statistics.median(ts) if len(ts) >= 2 else 0
            if med > 0:
                worst = max(worst, max(ts) / med)
    return worst


def query_profile(log: EventLog, spans: list[dict]) -> dict:
    """operators.<query>.{s,jobs,shuffle_mb} (the query span's name is
    operators.<query>), the median over passes."""
    per: dict = defaultdict(lambda: defaultdict(list))
    parent = {s["id"]: s["parent"] for s in spans}

    def under(sid, root):
        while sid is not None and sid != root:
            sid = parent.get(sid)
        return sid == root

    for s in spans:
        if s["layer"] != "operators":
            continue
        js = [j for j in log.jobs.values() if under(j["span"], s["id"])]
        per[s["name"]]["s"].append(s["end"] - s["start"])
        per[s["name"]]["jobs"].append(len(js))
        per[s["name"]]["shuffle_mb"].append(
            sum(t["shuffle_w"] for j in js for t in log.tasks(j)) / MB)
    return {f"{q}.{k}": statistics.median(v)
            for q, d in per.items() for k, v in d.items()}


# ----------------------------------------------------------------- CLI

def render(profiles: list[dict]) -> str:
    lines = []
    for p in profiles:
        what = "operation" if p["wave"] is None else f"wave {p['wave']}"
        lines.append(f"{what}: wall {p['wall_s']:.3f} s, "
                     f"driver gap {p['metrics']['engine.driver_gap_s']:.3f}"
                     f" s, unexplained "
                     f"{p['metrics']['trace.unexplained_s']:.3f} s")
        for lab, s in sorted(p["self_s"].items(), key=lambda kv: -kv[1]):
            lines.append(f"  self {lab:<28} {s:8.3f} s")
        for k, v in p["metrics"].items():
            lines.append(f"  {k:<36} {v:12.4f}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__.strip().split("Usage: ")[-1], file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        spans = json.load(f)
    facts = {}
    if len(argv) > 2:
        with open(argv[2]) as f:
            facts = {int(k): v for k, v in json.load(f).items()}
    log = EventLog(argv[1])
    waves = [s for s in spans if s["name"] == "run_wave"]
    print(render([wave_profile(log, spans, w, facts.get(w["id"]))
                  for w in waves]))
    q = query_profile(log, spans)
    for k, v in sorted(q.items()):
        print(f"{k:<50} {v:12.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
