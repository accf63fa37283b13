"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload flagship_counts --seed 1 \\
        --seconds 10 --trace 0

Runs the workload as a closed loop with one client in this process on
``local[min(nproc, SPARK_GRAFT_CPUS)]``, checks every run against the
DuckDB oracle, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` a separate
traced run reports the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median

import harness
import layers
import workloads
from harness import WORK, bench_cores, timed

# one full-size warm-up run starts every Python worker. Runs keep getting
# faster for a few more (JIT), and so does the probe around them, so the
# scaled run seconds are flat from the first timed run on
WARMUP_RUNS = 1
# runs here take 3-5 s, so --seconds 10 ends after exactly 5
MIN_RUNS = 5
TRACE_PLAIN_RUNS = 2
RUN_TIMEOUT_S = 90.0
# harness.spark_probe's seconds on a quiet 4-vCPU host. Timed figures
# are reported at that host speed: seconds x PROBE_REF_S / the probe's
# seconds measured around them (README, "Protocol")
PROBE_REF_S = 0.6
# the traced stream drains the 16-file table in 2 micro-batches
STREAM_FILES_PER_TRIGGER = 8

END_TO_END = {
    "rows_per_s": "rows/s",
    "run_s.p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
SINKS = workloads.SINKS
PER_LAYER = {
    "sources.scan_s": "s",
    "parse.self_s": "s",
    "parse.kernel_s": "s",
    "parse.outside_kernel_s": "s",
    "parse.rows.rfc5424": "count",
    "parse.rows.rfc3164": "count",
    "parse.rows_failed": "count",
    "parse.rows_per_s_1c": "rows/s",
    "lookup.self_s": "s",
    "lookup.rows_nomatch": "count",
    "route.self_s": "s",
    **{f"route.hits.{s}": "count" for s in SINKS},
    "sinks.self_s": "s",
    **{f"sinks.rows_written.{s}": "count" for s in SINKS},
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "dedup.shingles_s": "s",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.shingles_rows": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.shared_shingle_pairs": "count",
    "cluster.cc_s": "s",
    "cluster.clusters": "count",
    "spark.jobs": "count",
    "plan.mapinarrow": "count",
    "plan.exchange": "count",
    "plan.bhj": "count",
    "plan.python_eval": "count",
    "scaling.eff_1_to_n": "ratio",
    "trace.final_prefix_s": "s",
    "trace.untraced_run_s": "s",
    "host.probe_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def prepare(wl, seed: int, cores: int, session=None):
    """The workload's seeded input and oracle results, read from the
    per-seed cache or made with ``session``. Without one they are made in
    a JVM of their own that has exited before set-up starts, so set-up
    is a cold start whether or not the input was cached."""
    started = []

    def own_session():
        if not started:
            started.append(harness.start_spark(cores))
        return started[0]

    t_in, case = timed(lambda: wl.prepare(session or own_session, seed,
                                          wl.size))
    if started:
        harness.stop_spark(started[0])
        harness.shutdown_jvm()
    log(f"inputs and oracle ready in {t_in:.1f} s")
    return case


def setup(wl, case, cores: int, spark=None):
    """One set-up: JVM and session start (unless ``spark`` is already
    up) plus WARMUP_RUNS untimed runs over the full input, which start
    every Python worker and compile the plan at the timed runs' size.
    Returns the session and the set-up's seconds."""
    t_session, spark = timed(lambda: spark or harness.start_spark(cores))
    t_warm = [timed(lambda: wl.run(spark, case.path))[0]
              for _ in range(WARMUP_RUNS)]
    log(f"set-up: session {t_session:.2f} s, warm-up runs "
        f"{[round(t, 2) for t in t_warm]} s")
    return spark, t_session + sum(t_warm)


def checked_run(spark, wl, case):
    """(seconds, problems) of one watched, oracle-checked run."""
    t0 = time.perf_counter()
    out, err = harness.call_with_watchdog(
        spark, lambda: wl.run(spark, case.path), RUN_TIMEOUT_S)
    dt = time.perf_counter() - t0
    if err is not None:
        return dt, [f"{type(err).__name__}: {err}"]
    try:
        return dt, wl.check(case, out)
    except Exception as ex:  # a check that cannot read its output fails
        return dt, [f"check {type(ex).__name__}: {ex}"]


def measure(spark, wl, case, seconds: float, cores: int):
    """Closed loop until ``seconds`` of timed runs (at least MIN_RUNS),
    with the host probe before the first run and after each run. Returns
    each good run's wall seconds and its seconds at the reference host
    speed (wall x PROBE_REF_S / the mean of the two probes around it),
    the probe seconds, the failed-run count and the peak RSS."""
    times, scaled, failed, spent = [], [], 0, 0.0
    probes = [harness.spark_probe(spark, cores)]
    with harness.RssSampler() as rss:
        while spent < seconds or len(times) + failed < MIN_RUNS:
            dt, problems = checked_run(spark, wl, case)
            probes.append(harness.spark_probe(spark, cores))
            spent += dt
            if problems:
                failed += 1
                log(f"run failed: {problems[:3]}")
            else:
                times.append(dt)
                scaled.append(dt * PROBE_REF_S * 2 / sum(probes[-2:]))
    log(f"run wall seconds {[round(t, 3) for t in times]}")
    log(f"run scaled seconds {[round(t, 3) for t in scaled]}")
    log(f"probe seconds {[round(t, 3) for t in probes]}")
    return times, scaled, probes, failed, rss.peak


def traced(spark, wl, case, cores: int):
    """Per-layer metrics, the top layer, oracle mismatches and the
    number of failed untraced runs."""
    from rsyslog_spark.pipeline import run_flagship

    m = dict.fromkeys(PER_LAYER, 0.0)
    problems: list[str] = []
    plain, failed = [], 0
    for _ in range(TRACE_PLAIN_RUNS):
        j0 = harness.next_job_id(spark)
        dt, bad = checked_run(spark, wl, case)
        m["spark.jobs"] = harness.next_job_id(spark) - j0
        plain.append(dt)
        failed += bool(bad)
        problems += bad
    m["trace.untraced_run_s"] = median(plain)
    m["host.probe_s"] = harness.spark_probe(spark, cores)

    if wl.name == "neardup_docs":
        prefixes = layers.neardup_prefixes(spark, case, workloads.DUP_THRESHOLD)
        final = "cluster"
    else:
        out = workloads.FlagshipSinks.out_dir()
        # the sinks prefix is the first parquet write and the first
        # persist in this JVM: warm that path before timing it
        run_flagship(spark.read.parquet(case.warm),
                     base_path=os.path.join(WORK, "out", "sinks_warm"))
        prefixes = layers.flagship_prefixes(spark, case, sink_dir=out)
        # flagship_counts' own run ends at route; its trace still times
        # the sink writes as one more prefix
        final = "route" if wl.name == "flagship_counts" else "sinks"
    res = layers.time_prefixes(prefixes)
    names = [n for n, _ in prefixes]
    self_s = {names[0]: res[names[0]][0]}
    for prev, cur in zip(names, names[1:]):
        self_s[cur] = res[cur][0] - res[prev][0]
    m["trace.final_prefix_s"] = res[final][0]
    m["sources.scan_s"] = self_s["sources"]

    if wl.name == "neardup_docs":
        for stage in ("shingles", "signatures", "candidates", "verify"):
            m[f"dedup.{stage}_s"] = self_s[f"dedup.{stage}"]
        m["dedup.shingles_rows"] = res["dedup.shingles"][1]["rows"]
        m["dedup.candidate_pairs"] = res["dedup.candidates"][1]["pairs"]
        m["dedup.verified_pairs"] = res["dedup.verify"][1]["pairs"]
        m["dedup.verify_yield"] = (
            m["dedup.verified_pairs"] / max(m["dedup.candidate_pairs"], 1))
        m["dedup.shared_shingle_pairs"] = layers.shared_shingle_pairs(
            spark, case)
        m["cluster.cc_s"] = self_s["cluster"]
        cl = res["cluster"][1]
        m["cluster.clusters"] = cl["clusters"]
        problems += workloads.mismatches(
            cl, {k: case.expected[k] for k in ("labeled", "clusters")})
        m.update(layers.plan_counts(res["dedup.verify"][2]))
        layer_s = {
            "sources": self_s["sources"],
            "dedup": sum(self_s[n] for n in names if n.startswith("dedup.")),
            "cluster": self_s["cluster"],
        }
    else:
        pc = res["parse"][1]
        m["parse.self_s"] = self_s["parse"]
        m["parse.rows.rfc5424"] = pc["rfc5424"]
        m["parse.rows.rfc3164"] = pc["rfc3164"]
        m["parse.rows_failed"] = pc["failed"]
        m["lookup.self_s"] = self_s["lookup"]
        m["lookup.rows_nomatch"] = res["lookup"][1]["nomatch"]
        m["route.self_s"] = self_s["route"]
        m["sinks.self_s"] = self_s["sinks"]
        want = case.expected["sinks"]
        for s in SINKS:
            m[f"route.hits.{s}"] = res["route"][1][s]
        written = workloads.written_rows(out, SINKS)
        for s in SINKS:
            m[f"sinks.rows_written.{s}"] = written[s]
        m["sinks.files_written"], m["sinks.bytes_written"] = (
            layers.sink_files(out))
        problems += workloads.mismatches(res["route"][1], want)
        problems += workloads.mismatches(res["sinks"][1], want)
        problems += [f"on disk {p}" for p in workloads.mismatches(written, want)]
        m.update(layers.plan_counts(res["route"][2]))
        st = layers.stream_backlog(spark, case, os.path.join(WORK, "stream"),
                                   STREAM_FILES_PER_TRIGGER)
        m["streaming.batches"] = st["batches"]
        m["streaming.jobs_per_batch"] = st["jobs"] / max(st["batches"], 1)
        problems += [f"stream {p}" for p in workloads.mismatches(
            st["sinks"], want)]
        log(f"stream: {st['batches']} batches, {st['jobs']} jobs, "
            f"{st['seconds']:.3f} s")
        kernel = layers.kernel_seconds(spark, case)
        m["parse.kernel_s"] = kernel
        m["parse.outside_kernel_s"] = m["parse.self_s"] - kernel / cores
        layer_s = {k: self_s[k] for k in names[:names.index(final) + 1]}
    top = max(layer_s, key=layer_s.get)
    return m, top, layer_s, problems, failed


def calibrate_1core(seed: int, rows: int) -> float:
    """flagship_counts run seconds on local[1], in its own process."""
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "calibrate.py"), str(seed), str(rows)],
        capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"1-core calibration failed: {out.stderr[-500:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])["run_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    harness.require_library()
    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    cores = bench_cores()
    os.makedirs(WORK, exist_ok=True)
    log(f"{wl.name} seed={args.seed} cores={cores} trace={args.trace}")

    if args.trace:
        # setup_s is not reported here: make the input in the session
        # that the trace then uses
        spark = harness.start_spark(cores)
        case = prepare(wl, args.seed, cores, session=lambda: spark)
        spark, _ = setup(wl, case, cores, spark)
    else:
        case = prepare(wl, args.seed, cores)
        spark, setup_s = setup(wl, case, cores)
    problems: list[str] = []
    try:
        # the probe's own first, cold run; not part of the program's set-up
        harness.spark_probe(spark, cores)
        if args.trace:
            m, top, layer_s, bad, failed = traced(spark, wl, case, cores)
            problems += bad
            attempted = TRACE_PLAIN_RUNS
        else:
            times, scaled, probes, failed, peak = measure(
                spark, wl, case, args.seconds, cores)
            attempted = len(times) + failed
    finally:
        harness.stop_spark(spark)
        harness.shutdown_jvm()

    if args.trace:
        if wl.name == "flagship_counts":
            t1 = calibrate_1core(args.seed, case.rows)
            m["parse.rows_per_s_1c"] = case.rows / t1
            m["scaling.eff_1_to_n"] = (t1 / m["trace.untraced_run_s"]) / cores
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
        import pyarrow
        import pyspark

        artifact = {
            "workload": wl.name, "seed": args.seed, "cores": cores,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": harness.loadavg(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "top_layer": top, "layer_self_s": layer_s, "metrics": m,
        }
        path = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        log(f"top layer {top}; layer self seconds "
            + ", ".join(f"{k}={v:.3f}" for k, v in layer_s.items()))
        log(f"final prefix {m['trace.final_prefix_s']:.3f} s vs untraced run "
            f"{m['trace.untraced_run_s']:.3f} s; artifact {path}")
    else:
        if not times:
            sys.exit(f"perfbench: all {attempted} runs failed")
        p50 = median(scaled)
        host = median(probes)
        values = {
            "rows_per_s": case.rows / p50,
            "run_s.p50": p50,
            "setup_s": setup_s * PROBE_REF_S / host,
            "peak_rss_mb": peak / 2**20,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
        for k, v in metrics.items():
            log(f"{k} = {v['value']:.4f} {v['unit']}")
        log(f"wall clock: run_s.p50 = {median(times):.4f} s, setup_s = "
            f"{setup_s:.4f} s; probe p50 {host:.4f} s, reference "
            f"{PROBE_REF_S} s")
        log(f"failed_frac = {failed / attempted:.4f} ({failed}/{attempted}); "
            f"run_s.p50 over {len(times)} runs")
    if problems:
        log(f"oracle mismatches: {problems[:5]}")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
