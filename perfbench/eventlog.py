"""Spark event-log reader: per-label jobs, tasks, executor time and bytes.

Reads an uncompressed JSON-lines event log (``spark.eventLog.compress=
false``) and, given the run's spans, attributes every job to a label:
the job's ``spark.job.description`` when it names a span label, else the
innermost span open at the job's submission time (jobs submitted from
pool threads carry no description), else ``unlabelled``.

Per label it reports jobs, tasks, executor run/CPU/GC seconds, shuffle
read/write bytes, spill bytes, wall seconds (union of the label's span
intervals) and ``no_task_frac``: the share of that wall time during which
no task of any job was running, i.e. driver and scheduling time.

Run as a script to turn a log and a spans file into JSON:

    python3 perfbench/eventlog.py EVENT_LOG SPANS.json > report.json
"""

from __future__ import annotations

import json
import sys

FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _covered(spans: list[tuple[float, float]], busy: list[tuple[float, float]]) -> float:
    """Length of the union of ``busy`` inside the union of ``spans``;
    both lists are merged (sorted, disjoint)."""
    total, j = 0.0, 0
    for s, e in spans:
        while j < len(busy) and busy[j][1] <= s:
            j += 1
        k = j
        while k < len(busy) and busy[k][0] < e:
            total += max(0.0, min(e, busy[k][1]) - max(s, busy[k][0]))
            k += 1
    return total


def _innermost(spans: list[dict], t: float) -> str | None:
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
            best = sp
    return best["label"] if best else None


def summarize(path: str, spans: list[dict]) -> dict[str, dict]:
    labels = {sp["label"] for sp in spans}
    stage_job: dict[int, int] = {}
    job_label: dict[int, str] = {}
    rows: dict[str, dict] = {}
    task_busy: list[tuple[float, float]] = []

    def row(label: str) -> dict:
        return rows.setdefault(label, {k: 0 for k in FIELDS})

    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description")
            label = desc if desc in labels else _innermost(spans, ev["Submission Time"] / 1000.0)
            label = label or "unlabelled"
            job_label[ev["Job ID"]] = label
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            row(label)["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            task_busy.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            label = job_label.get(stage_job.get(ev["Stage ID"]), "unlabelled")
            r = row(label)
            r["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            r["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    busy = _merge(task_busy)
    for label in labels:
        wall_iv = _merge([(sp["start"], sp["end"]) for sp in spans if sp["label"] == label])
        wall = sum(e - s for s, e in wall_iv)
        r = row(label)
        r["wall_s"] = wall
        r["no_task_frac"] = 1.0 - _covered(wall_iv, busy) / wall if wall > 0 else 0.0
    return rows


def rollup(rows: dict[str, dict], prefix: str) -> dict:
    """Sum the counters of every label at or under ``prefix``."""
    out = {k: 0 for k in FIELDS}
    for label, r in rows.items():
        if label == prefix or label.startswith(prefix + "/"):
            for k in FIELDS:
                out[k] += r[k]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[2]) as f:
        spans = json.load(f)
    json.dump(summarize(argv[1], spans), sys.stdout, indent=1, sort_keys=True)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
