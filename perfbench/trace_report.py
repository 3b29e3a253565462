"""Summary of a traced run: self time per layer and tracing overhead.

A span's self time is its duration minus the part of it that its child
spans cover. Harness spans nest through their parent ids; Spark jobs are
children of the harness span whose thread submitted them, stages children
of their job. The overhead compares this traced run's end-to-end metrics
with the median of the untraced runs of the same workload on record.
"""
import json
import statistics


def _union(intervals):
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans):
    """Milliseconds of self time and span count per layer."""
    by_id = {str(s["id"]): s for s in spans}
    children = {}
    for s in spans:
        p = str(s.get("parent", ""))
        if p in by_id and p != str(s["id"]):
            children.setdefault(p, []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(str(s["id"]), [])]
        self_ms = (s["end_ms"] - s["start_ms"]) - _union([k for k in kids if k[1] > k[0]])
        layer = out.setdefault(s["layer"], {"spans": 0, "self_ms": 0.0, "total_ms": 0.0})
        layer["spans"] += 1
        layer["self_ms"] += self_ms
        layer["total_ms"] += s["end_ms"] - s["start_ms"]
    return out


def write(workload, record, results_dir, traces_dir):
    path = traces_dir / f"{workload}.spans.jsonl"
    spans = [json.loads(l) for l in path.read_text().splitlines() if l.strip()]
    untraced = [json.loads(p.read_text())["e2e"]
                for p in results_dir.glob(f"{workload}-seed*-trace0.json")]
    overhead = {}
    for k, v in record["e2e"].items():
        base = [u[k] for u in untraced if k in u]
        if base:
            m = statistics.median(base)
            overhead[k] = {"traced": v, "untraced_median": m, "untraced_runs": len(base),
                           "share": (v - m) / m if m else None}
    report = {"workload": workload, "seed": record["seed"], "spans": len(spans),
              "layers": self_times(spans), "tracing_overhead": overhead,
              "per_layer": record["per_layer"]}
    (traces_dir / f"{workload}-seed{record['seed']}.report.json").write_text(
        json.dumps(report, indent=1))
