#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (sbt, once per source state), prepares the fixture, the stored
layouts and the DuckDB expectations once per source state under
.bench_work/, then runs one workload in its own JVM and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones; a traced run also writes its spans and a report under
.bench_work/trace/. perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORK = ROOT / ".bench_work"
RESULTS = WORK / "results"
TRACES = WORK / "trace"

HEAP = "3g"
CORES = 4
FIXTURE_SF = 0.01
FIXTURE_SEED = 42
SUITE_STRIDE = 20            # every 20th query of each module, by name
# Near-duplicate pair queries whose candidate generation may miss pairs of
# their brute-force oracle: each pair they return must be an oracle pair
# with the oracle's Jaccard value, and their recall goes under `detail`.
SUITE_SUBSET_CHECKED = ("q28_minhash_lsh", "q29_simhash")
SERVE_RATE = 5.0             # open-loop arrivals per second
ZIPF_ITEMS = 1.1             # skew of /statsByItem item names (an assumption)
STREAM = {"log_rate": 100, "order_rate": 12, "warm_ms": 9000,
          "burst_ms": 2000, "burst_x": 20, "trigger_ms": 500}
WORKLOADS = ("stream_gmall", "query_layer")

E2E = {"setup_s": "s", "latency_p50_s": "s", "latency_p80_s": "s",
       "throughput_per_s": "1/s"}

OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def tail(text, n=40):
    return "\n".join(text.splitlines()[-n:])


# ---------------------------------------------------------------- build

def files_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def source_hash():
    """The engine's and the harness's sources: what the build compiles."""
    return files_hash([*ROOT.glob("src/main/**/*.scala"), *HERE.glob("src/main/**/*.scala"),
                       ROOT / "build.sbt", HERE / "build.sbt",
                       ROOT / "project" / "build.properties",
                       HERE / "project" / "build.properties"])


class State:
    """What the prepare step makes, in a directory of its own per state of
    everything it is made from (the compiled sources, the fixture and
    oracle generators, the query set), so a checkout that serves two
    commits never measures one on the other's stores."""

    def __init__(self):
        key = files_hash([HERE / "gen_fixture.py", HERE / "oracle.py"],
                         json.dumps([source_hash(), FIXTURE_SF, FIXTURE_SEED,
                                     SUITE_STRIDE, SUITE_SUBSET_CHECKED]))
        self.dir = WORK / f"state-{key}"
        self.tmp = self.dir / "tmp"        # java.io.tmpdir: the stored layouts live here
        self.fixture = self.dir / "fixture"
        self.expected = self.dir / "expected"


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not need.exists():
            raise BenchError(f"{need} is missing: run from the root of a graft checkout")
    cp_file = WORK / f"classpath-{source_hash()}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    r = subprocess.run(["sbt", "-batch", "-no-colors", "-J-XX:-UsePerfData",
                        "export Runtime / fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=840)
    cps = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        raise BenchError("build failed:\n" + tail(r.stdout + r.stderr))
    cp_file.write_text(cps[-1])
    return cps[-1]


def jvm(cp, st, mode, args, name, timeout):
    """Runs one harness mode in its own JVM; returns its result file."""
    args = dict(args, out=str(WORK / f"{name}.out.json"))
    arg_file = WORK / f"{name}.args.json"
    arg_file.write_text(json.dumps(args))
    log_file = WORK / f"{name}.log"
    with open(log_file, "w") as log:
        p = subprocess.Popen(
            ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *OPENS, f"-Djava.io.tmpdir={st.tmp}",
             "-cp", cp, "graft.perfbench.Main", mode, str(arg_file)],
            cwd=WORK, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{mode} did not finish in {timeout} s")
    if rc != 0:
        raise BenchError(f"{mode} exited with {rc}:\n{tail(log_file.read_text())}")
    return json.loads(Path(args["out"]).read_text())


# ---------------------------------------------------------------- prepare

def suite_queries(modules):
    """The query_layer query set: every SUITE_STRIDE-th query of each module
    by name, so every module is in it, plus SUITE_SUBSET_CHECKED."""
    picked = {q for qs in modules.values() for q in sorted(qs)[::SUITE_STRIDE]}
    return sorted(picked | set(SUITE_SUBSET_CHECKED))


def store_files(st):
    return {str(p.relative_to(st.tmp)): (p.stat().st_size, p.stat().st_mtime_ns)
            for d in st.tmp.glob("graft-*") for p in d.rglob("*") if p.is_file()}


def prepare(cp, st):
    """Once per source state: fixture, expectations, stored layouts."""
    done = st.dir / "prepared.json"
    if done.exists():
        return json.loads(done.read_text())
    import gen_fixture
    import oracle
    shutil.rmtree(st.dir, ignore_errors=True)
    st.tmp.mkdir(parents=True)
    gen_fixture.write(str(st.fixture), FIXTURE_SF, FIXTURE_SEED)
    orc = jvm(cp, st, "oracles", {}, "oracles", 300)
    queries = suite_queries(orc["modules"])
    st.expected.mkdir()
    rows, collected = oracle.suite_rows(str(st.fixture), orc["oracles"], queries,
                                        SUITE_SUBSET_CHECKED)
    (st.expected / "suite_rows.json").write_text(json.dumps({
        "oracle_hash": orc["hash"], "rows": rows, "collected": collected}))
    (st.expected / "serve_payloads.json").write_text(json.dumps({
        "oracle_hash": orc["hash"],
        "payloads": oracle.serve_payloads(str(st.fixture), orc["oracles"])}))
    built = jvm(cp, st, "prepare", {"fixture": str(st.fixture), "queries": queries},
                "prepare", 840)
    bad = [q["name"] for q in built["queries"] if q["error"]]
    if bad:
        raise BenchError(f"store build failed for {bad}")
    prepared = {"oracle_hash": orc["hash"], "queries": queries,
                "modules": orc["modules"],
                "store_build_s": built["store_build_ms"] / 1e3}
    done.write_text(json.dumps(prepared))
    return prepared


def expected(st, name, prepared):
    e = json.loads((st.expected / name).read_text())
    if e["oracle_hash"] != prepared["oracle_hash"]:
        raise BenchError(f"{name} was computed from other oracle SQL")
    return e


# ---------------------------------------------------------------- stats

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    i = int(k)
    return xs[i] if i + 1 >= len(xs) else xs[i] + (xs[i + 1] - xs[i]) * (k - i)


def hd_quantile(xs, q):
    """Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    On a handful of samples with gaps between clusters (19 query times) it
    does not jump when two neighbouring samples change places, as the
    interpolated order statistic does."""
    import numpy as np
    xs, n = sorted(xs), len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    at = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(at), xs))


def weighted_quantile(pairs, q):
    """Quantile of (value, weight) pairs."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


# ---------------------------------------------------------------- workloads

def quota(weights, n):
    """Largest-remainder apportionment of n draws over weighted items, so
    every request list has the same composition and a seed only orders it."""
    total = sum(weights.values())
    exact = {k: n * w / total for k, w in weights.items()}
    counts = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: (counts[k] - exact[k], k))[:n - sum(counts.values())]:
        counts[k] += 1
    return [k for k in sorted(counts) for _ in range(counts[k])]


def serve_requests(rng, n):
    """n requests in a seeded order: half /dauRealtime spread evenly over the
    fixture days, half /statsByItem with Zipf-weighted item names over the
    p_name tokens and an even split of t."""
    import oracle
    weights = {x: 1.0 / (r + 1) ** ZIPF_ITEMS for r, x in enumerate(oracle.item_names())}
    n_dau = n // 2
    items = quota(weights, n - n_dau)
    rng.shuffle(items)
    ts = ["segment", "band"] * len(items)
    rng.shuffle(ts)
    out = [oracle.dau_path(d) for d in quota(dict.fromkeys(oracle.DAYS, 1.0), n_dau)]
    out += [oracle.stats_path(i, t) for i, t in zip(items, ts)]
    rng.shuffle(out)
    return out


def run_query(cp, st, prepared, seed, seconds, trace):
    import oracle
    # one fixed pass order: in a cold pass each query's time depends on what
    # ran before it, and a seeded order spread the per-query median by 0.24
    order = prepared["queries"]
    rng = random.Random(seed)
    suite = expected(st, "suite_rows.json", prepared)
    rows = suite["rows"]
    payloads = expected(st, "serve_payloads.json", prepared)["payloads"]
    # Poisson arrivals conditioned on their count (uniform times in the
    # window), one fixed sample for every seed: the seed draws which request
    # comes when, so runs differ in requests, not in how they bunch up
    arrivals = random.Random(0)
    due = sorted(arrivals.uniform(0, seconds * 1e3) for _ in range(int(SERVE_RATE * seconds)))
    warmup = [oracle.dau_path(d) for d in ("2024-01-02", "2024-01-09", "2024-01-16",
                                           "2024-01-23")] + \
        [oracle.stats_path(i, t) for i in ("red", "gear") for t in ("segment", "band")]
    before = store_files(st)
    res = jvm(cp, st, "query", {
        "fixture": str(st.fixture), "order": order, "collect": SUITE_SUBSET_CHECKED,
        "clients": CORES, "trace": trace,
        "spans": str(TRACES / "query_layer.spans.jsonl"),
        "expect_hash": prepared["oracle_hash"],
        "warmup": warmup, "open": serve_requests(rng, len(due)), "open_due_ms": due},
        "query_layer", 170)
    unchanged = store_files(st) == before
    qs = res["queries"]
    collected = suite["collected"]
    recall = {}
    for q in qs:
        if q["name"] in collected:
            got = [json.loads(r) for r in q["collected"]]
            q["extra_rows"] = oracle.subset_check(collected[q["name"]], got)
            recall[q["name"]] = len(got) / max(1, len(collected[q["name"]]))
    wrong_q = [q["name"] for q in qs
               if q["error"] or q.get("extra_rows") or (
                   q["name"] not in collected and rows[q["name"]] is not None and
                   q["rows"] != rows[q["name"]])]
    rs = res["requests"]
    wrong_r = [r["path"] for r in rs if r["status"] != 200 or
               not oracle.payload_matches(payloads[r["path"]], json.loads(r["body"]))]
    opened = [r for r in rs if r["phase"] == "open"]
    lat = [(r["done_ms"] - r["due_ms"]) / 1e3 for r in opened]
    dau = [(r["done_ms"] - r["due_ms"]) / 1e3 for r in opened if r["path"].startswith("/dau")]
    stats = [(r["done_ms"] - r["due_ms"]) / 1e3 for r in opened if r["path"].startswith("/stats")]
    qlat = [(q["construct_ms"] + q["action_ms"]) / 1e3 for q in qs]
    e2e = {"setup_s": res["setup_ms"] / 1e3,
           "latency_p50_s": hd_quantile(qlat, 0.5), "latency_p80_s": hd_quantile(qlat, 0.8),
           "throughput_per_s": len(qs) / (res["cycle_ms"] / 1e3)}
    detail = {"heap_live_mb": res["heap_live_peak_mb"],
              "suite_s": res["cycle_ms"] / 1e3, "query_p90_s": hd_quantile(qlat, 0.9),
              "queries": len(qs), "query_s": {q["name"]: l for q, l in zip(qs, qlat)},
              "dau_p50_s": quantile(dau, 0.5), "dau_p90_s": quantile(dau, 0.9),
              "stats_p50_s": quantile(stats, 0.5), "stats_p90_s": quantile(stats, 0.9),
              "requests": len(opened), "stores_unchanged": unchanged,
              "subset_checked_recall": recall,
              "wrong_queries": wrong_q, "wrong_requests": wrong_r[:20]}
    # a request's job time: the req-* pool jobs inside its interval, each
    # shared equally among the requests in flight around it
    job_s = [0.0] * len(opened)
    for s, e, _ in res["req_jobs"]:
        owners = [i for i, r in enumerate(opened) if r["sent_ms"] <= s and e <= r["done_ms"]]
        for i in owners:
            job_s[i] += (e - s) / 1e3 / len(owners)
    per_layer = dict(res["spark"])
    per_layer.update({
        "spark.driver_only_s": res["driver_only_ms"] / 1e3,
        "suite.construct_s": sum(q["construct_ms"] for q in qs) / 1e3,
        "suite.execute_s": sum(q["action_ms"] for q in qs) / 1e3,
        "suite.eager_jobs": sum(q["eager_jobs"] for q in qs),
        "setup.session_s": res["session_ms"] / 1e3,
        "serve.latency_p50_s": quantile(lat, 0.5), "serve.latency_p80_s": quantile(lat, 0.8),
        "serve.requests": len(opened), "serve.inflight_max": res["inflight_max"],
        "serve.jobs_per_req": len(res["req_jobs"]) / len(opened),
        "serve.job_s_per_req": sum(job_s) / len(opened),
        "serve.wait_p50_s": quantile([l - j for l, j in zip(lat, job_s)], 0.5)})
    for m in prepared["modules"]:
        per_layer[f"suite.{m}_s"] = sum(
            q["construct_ms"] + q["action_ms"] for q in qs if q["module"] == m) / 1e3
    attempted = len(qs) + len(rs) + 1
    failed = len(wrong_q) + len(wrong_r) + (0 if unchanged else 1)
    return attempted, failed, e2e, detail, per_layer


def run_stream(cp, st, prepared, seed, seconds, trace):
    import gen_stream
    work = WORK / "stream"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run_ms = STREAM["warm_ms"] + seconds * 1000
    truth = gen_stream.write(str(work), seed, STREAM["log_rate"], STREAM["order_rate"],
                             run_ms, STREAM["burst_ms"], STREAM["burst_x"])
    res = jvm(cp, st, "stream", {"work": str(work), "run_ms": run_ms, "trace": trace,
                             "warm_ms": STREAM["warm_ms"],
                             "trigger_ms": STREAM["trigger_ms"], "partitions": CORES,
                             "spans": str(TRACES / "stream_gmall.spans.jsonl")},
              "stream_gmall", 170)
    from datetime import datetime
    names = {v: k for k, v in res["query_ids"].items()}
    batches = []
    for p in map(json.loads, res["progress"]):
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
        p["end_ms"] = start + p["durationMs"].get("triggerExecution", 0)
        p["q"] = p["name"]
        batches.append(p)
    lo, hi = res["measure_start_ms"], res["fixed_end_ms"]
    # per-layer batch figures: the batches that finish the window's events,
    # up to the burst (a window holds only one or two batches per query)
    window = [b for b in batches if lo <= b["end_ms"] < res["burst_ms"]]
    # freshness of the on-time events due in the fixed-rate window, in
    # whichever stage-2 batch made them readable; each observed quantile
    # stands for an equal share of its batch's selected events
    fresh = []
    for b in batches:
        for m in b.get("observedMetrics", {}).values():
            n, qs = m["n"], m["q"]
            for ts in (qs if n else []):
                due = res["t0_ms"] + (ts - gen_stream.EPOCH_MS) / gen_stream.SIM_X
                if lo <= due < hi:
                    fresh.append(((b["end_ms"] - due) / 1e3, n / len(qs)))
    if not fresh:
        raise BenchError("no event due in the measured window became readable")
    out = res["outputs"]
    wrong = {k: (out[k], truth[k]) for k in ("dau_rows", "ow_rows", "errors")
             if out[k] != truth[k]}
    if abs(out["ow_amount"] - truth["ow_amount"]) > 0.011:
        wrong["ow_amount"] = (out["ow_amount"], truth["ow_amount"])
    failed = sum(abs(a - b) for k, (a, b) in wrong.items() if k != "ow_amount") + \
        (1 if "ow_amount" in wrong else 0)
    catchup_s = (res["drained_ms"] - res["burst_ms"]) / 1e3
    e2e = {"setup_s": res["setup_ms"] / 1e3,
           "latency_p50_s": weighted_quantile(fresh, 0.5),
           "latency_p80_s": weighted_quantile(fresh, 0.8),
           "throughput_per_s": truth["burst_events"] / catchup_s}
    detail = {"heap_live_mb": res["heap_live_peak_mb"],
              "fresh_p50_s": e2e["latency_p50_s"], "fresh_p90_s": weighted_quantile(fresh, 0.9),
              "fresh_p95_s": weighted_quantile(fresh, 0.95),
              "catchup_eps": e2e["throughput_per_s"], "catchup_s": catchup_s,
              "truth": truth, "outputs": out, "wrong": wrong,
              "window_batches": len(window)}
    per_layer = dict(res["spark_window"])
    per_layer["spark.driver_only_s"] = res["driver_only_ms"] / 1e3
    for q in ("fanout", "route", "dau", "ow"):
        qb = [b for b in window if b["q"] == q]
        d = lambda k: sum(b["durationMs"].get(k, 0) for b in qb) / 1e3
        per_layer.update({f"{q}.batches": len(qb), f"{q}.add_batch_s": d("addBatch"),
                          f"{q}.latest_offset_s": d("latestOffset"),
                          f"{q}.plan_s": d("queryPlanning"),
                          f"{q}.commit_s": d("walCommit") + d("commitOffsets")})
        if q in ("fanout", "route"):
            jobs = [j for j in res["jobs"] if names.get(j[0]) == q and lo <= j[1] < res["burst_ms"]]
            per_layer[f"{q}.rows_in"] = sum(b["numInputRows"] for b in qb)
            per_layer[f"{q}.jobs_per_batch"] = len(jobs) / max(1, len(qb))
        else:
            ops = [b["stateOperators"] for b in qb if b.get("stateOperators")]
            last = ops[-1] if ops else []
            per_layer.update({
                f"{q}.state_rows": sum(o["numRowsTotal"] for o in last),
                f"{q}.state_bytes": sum(o["memoryUsedBytes"] for o in last),
                f"{q}.wm_dropped": sum(o.get("numRowsDroppedByWatermark", 0)
                                       for os_ in ops for o in os_),
                f"{q}.state_commit_s": sum(o.get("commitTimeMs", 0)
                                           for os_ in ops for o in os_) / 1e3})
    ups = [(e - s) / 1e3 for _, s, e in res["upserts"] if lo <= s < res["burst_ms"]]
    rows = out["dau_rows"] + out["ow_rows"]
    per_layer.update({
        "sinks.upsert_calls": len(ups), "sinks.upsert_s": sum(ups),
        "sinks.upsert_p50_s": quantile(ups, 0.5) if ups else 0.0,
        "sinks.files": out["serving_files"],
        "sinks.bytes_per_row": out["serving_bytes"] / max(1, rows),
        "gen.events": truth["log_events"] + truth["cdc_events"],
        "gen.late_max_s": res["late_max_ms"] / 1e3,
        "setup.session_s": res["session_ms"] / 1e3})
    attempted = truth["log_events"] + truth["cdc_events"]
    return attempted, int(failed), e2e, detail, per_layer


RUNNERS = {"stream_gmall": run_stream, "query_layer": run_query}


def per_layer_names():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in bench["per_layer"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        for d in (WORK, RESULTS, TRACES):
            d.mkdir(parents=True, exist_ok=True)
        cp = build()
        st = State()
        prepared = prepare(cp, st)
        attempted, failed, e2e, detail, per_layer = RUNNERS[a.workload](
            cp, st, prepared, a.seed, a.seconds, a.trace == 1)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2
    per_layer["sinks.store_build_s"] = prepared["store_build_s"]
    per_layer["jvm.heap_live_mb"] = detail["heap_live_mb"]
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "attempted": attempted, "failed": failed, "e2e": e2e,
              "detail": detail, "per_layer": per_layer}
    (RESULTS / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    if a.trace:
        import trace_report
        trace_report.write(a.workload, record, RESULTS, TRACES)
        metrics = {n: {"value": float(per_layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
