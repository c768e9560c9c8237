"""Tracing from outside the engine: spans with Spark job groups, the Spark
event log, kernel micro-timings and process-tree memory.

A span is recorded around each call into a public engine function (plus the
action that materializes its result). Spans stay in memory; the run writes
them out once at the end. Each span owns a Spark job group, so the event
log attributes every job, stage and task to the call that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class OpTimer:
    """Tracing off: the untraced passes run the same code through this. It
    sets no job group and only keeps each span's wall time (``times``)."""

    on = False

    def __init__(self):
        self.times = {}

    @contextlib.contextmanager
    def span(self, name):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = time.perf_counter() - t

    def count(self, name, value):
        pass


class Tracer:
    """Spans (name, start, end, parent, run id, job group) and counts."""

    on = True

    def __init__(self, spark, run_id):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans = []
        self.counts = {}
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": "{}:{}:{}".format(self.run_id, sid, name)}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name, value):
        self.counts[name] = value

    def self_time(self, span):
        """Duration minus the part of it that child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - _union_length(kids)


def _union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir):
    """Per job group: jobs, stages, tasks, job intervals and task metrics
    summed from an uncompressed, non-rolling Spark event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError("expected one event log in {}, found {}".format(log_dir, paths))
    jobs, stage_job, groups = {}, {}, {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": gid, "start": ev["Submission Time"] / 1000.0,
                                      "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
                g = _group(groups, gid)
                g["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = jobs.get(stage_job.get(info["Stage ID"]))
                if job is not None:
                    _group(groups, job["group"])["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                _add_task(_group(groups, job["group"]), ev)
    for job in jobs.values():
        if job["end"] is not None:
            _group(groups, job["group"])["intervals"].append((job["start"], job["end"]))
    return groups


def _group(groups, gid):
    return groups.setdefault(gid, {
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "python_worker_s": 0.0, "python_bytes_sent": 0,
        "python_bytes_returned": 0, "intervals": []})


def _add_task(g, ev):
    m = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == _PY_TIME:
            g["python_worker_s"] += int(upd) / 1e3
        elif name == _PY_SENT:
            g["python_bytes_sent"] += int(upd)
        elif name == _PY_RECV:
            g["python_bytes_returned"] += int(upd)


SPARK_FIELDS = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "python_worker_s", "python_bytes_sent", "python_bytes_returned"]


def merge_groups(groups, gids):
    """Sum the event-log figures of several job groups."""
    out = {f: 0 for f in SPARK_FIELDS}
    out["intervals"] = []
    for gid in gids:
        g = groups.get(gid)
        if g is None:
            continue
        for f in SPARK_FIELDS:
            out[f] += g[f]
        out["intervals"].extend(g["intervals"])
    return out


def driver_gap_s(span, merged):
    """Wall time inside a span during which none of its jobs ran."""
    return (span["end"] - span["start"]) - _union_length(merged["intervals"])


# --------------------------------------------------------- kernel timings

#: passes over the kernel sample
KERNEL_REPEATS = 3


def kernel_costs(page_rows, layers):
    """Single-threaded cost of the per-row kernels on a fixed page sample.

    Each figure is the median over ``KERNEL_REPEATS`` passes over the sample of the
    summed call time, divided by the number of units it handled."""
    from picogeojson_spark.geo import codec
    from picogeojson_spark.geo.bounds import geometry_bbox
    from picogeojson_spark.geo.cells import cover_bbox_ints
    from picogeojson_spark.geo.dateline import cut_dateline
    from picogeojson_spark.geo.pip import points_in_geometry
    from picogeojson_spark.operators.features import iter_candidates
    from picogeojson_spark.sources import extract_text

    import numpy as np

    from expected import CELL_LEVEL, COVER_MAX_CELLS

    pc = time.perf_counter
    runs = {k: [] for k in ("extract", "parse", "cut", "bbox", "cover", "dumps", "pip")}
    for _ in range(KERNEL_REPEATS):
        acc = dict.fromkeys(runs, 0.0)
        n_pages = n_units = n_boxes = n_cells = n_cand = 0
        pts = []
        for page in page_rows:
            t = pc()
            text = extract_text(page["html"])
            acc["extract"] += pc() - t
            n_pages += 1
            for raw, _obj in iter_candidates(text):
                t = pc()
                try:
                    tree = codec.loads(raw)
                except (TypeError, ValueError, KeyError, IndexError):
                    acc["parse"] += pc() - t
                    continue
                acc["parse"] += pc() - t
                units = tree["features"] if tree["type"] == "FeatureCollection" else [tree]
                for unit in units:
                    geom = unit["geometry"] if unit["type"] == "Feature" else unit
                    n_units += 1
                    try:
                        t = pc()
                        cut = cut_dateline(geom)
                        acc["cut"] += pc() - t
                        t = pc()
                        bb = geometry_bbox(cut)
                        acc["bbox"] += pc() - t
                    except (TypeError, ValueError, KeyError, IndexError):
                        continue
                    t = pc()
                    codec.dumps(unit)
                    acc["dumps"] += pc() - t
                    if bb is None:
                        continue
                    nd = len(bb) // 2
                    t = pc()
                    cells = cover_bbox_ints(bb[0], bb[1], bb[nd], bb[nd + 1],
                                            CELL_LEVEL, COVER_MAX_CELLS)
                    acc["cover"] += pc() - t
                    n_boxes += 1
                    n_cells += len(cells)
                    pts.append(((bb[0] + bb[nd]) / 2.0, (bb[1] + bb[nd + 1]) / 2.0))
        xs = np.array([p[0] for p in pts])
        ys = np.array([p[1] for p in pts])
        for _pid, gj in layers:
            geom = json.loads(gj)
            ring = np.asarray(geom["coordinates"][0])
            sel = ((xs >= ring[:, 0].min()) & (xs <= ring[:, 0].max())
                   & (ys >= ring[:, 1].min()) & (ys <= ring[:, 1].max()))
            if not sel.any():
                continue
            cx, cy = xs[sel], ys[sel]
            t = pc()
            points_in_geometry(cx, cy, geom)
            acc["pip"] += pc() - t
            n_cand += int(sel.sum())
        runs["extract"].append(acc["extract"] / max(n_pages, 1))
        runs["parse"].append(acc["parse"] / max(n_units, 1))
        runs["cut"].append(acc["cut"] / max(n_units, 1))
        runs["bbox"].append(acc["bbox"] / max(n_units, 1))
        runs["dumps"].append(acc["dumps"] / max(n_units, 1))
        runs["cover"].append(acc["cover"] / max(n_boxes, 1))
        runs["pip"].append(acc["pip"] / max(n_cand, 1))
    med = {k: statistics.median(v) * 1e6 for k, v in runs.items()}
    return {
        "extract.us_per_page": med["extract"],
        "codec.parse_us_per_feature": med["parse"],
        "codec.dumps_us_per_feature": med["dumps"],
        "dateline.cut_us_per_feature": med["cut"],
        "bounds.bbox_us_per_feature": med["bbox"],
        "cells.cover_us_per_feature": med["cover"],
        "cells.cover_cells_per_feature": n_cells / max(n_boxes, 1),
        "pip.us_per_candidate": med["pip"],
    }


# ---------------------------------------------------------------- memory

def descendants(root_pid):
    """The pids of every process below ``root_pid``, read from /proc."""
    children = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    found, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def tree_peak_rss_mb(root_pid):
    """Sum of each process's peak resident set (VmHWM) over the process
    tree under ``root_pid``: the driver, the JVM and its Python workers.
    Returns ``(total_mb, {process name: [mb, ...]})``."""
    parts = {}
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open("/proc/{}/status".format(pid)) as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            mb = int(status["VmHWM"].split()[0]) / 1024.0
            parts.setdefault(status["Name"].strip(), []).append(round(mb, 1))
    return sum(sum(v) for v in parts.values()), parts
