#!/usr/bin/env python3
"""Benchmark of the CDC consumer and the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Workloads (each in one JVM on ``local[cores]``, one caller):

  cdc      the CDC consumer in two phases on seeded Kafka-shaped feeds.
           Micro-batch: a backlog of 2,500-message files, one file per
           trigger, consumed by a streaming query whose batch body is
           ``ChangeLogStream.fullProductionBatch``; batches run back to
           back until the backlog is consumed.  The first batch is the
           cold start and is timed apart from the others.
           Backfill: 8 replays of a 1,500-key event set over disjoint
           keys, consumed in one bulk batch by ``Topology.run``, then
           one ``Topology.census`` and seeded
           ``ChangeLogStream.stateForKey`` lookups.
           The numbers of warm batches and lookups are fixed by
           ``--seconds`` (``cdc_sizes``), never by how fast the host is.
  catalog  the queries listed in ``catalog/queries.txt`` (the first two of
           every reporting family) in name order on the corpus in
           ``corpus/``, each written to its full result through the
           ``noop`` sink, with ``CachePool.releaseAll`` at each family
           boundary.  A fixed slice: ``--seconds`` does not size it.

Every run checks its outputs and prints, as its last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  The lines before it say how each figure was
made.  The exit code is 0 only when every check passed.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import feed  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("cdc", "catalog")
MB_PER_FILE = 2500
# the backfill: 8 replays of the events corpus's 1,500 keys, with fewer
# events per key than the corpus (67) so the bulk batch fits a run
BF_KEYS = 1500
BF_EVENTS_PER_KEY = 4
BF_REPLAYS = 8
# nominal costs on a 4-core host: they turn --seconds into fixed work
MB_WARM_BATCH_S = 3.0
LOOKUP_S = 0.1
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
UNMEASURED = {
    "cdc": ["streaming.dlq_s and backfill.dlq_s: the dead-letter write runs "
            "in the same Spark job as the wire decode, so it counts in the "
            "decode step"],
    "catalog": [],
}
# the operation whose latency op_p50_ms / op_tail_ms report
OP_KIND = {"cdc": "lookup", "catalog": "query"}


def info(msg):
    print("[perfbench] " + msg, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cdc_sizes(seconds):
    """(warm micro-batches, lookups) for a run of ``seconds``: half of it
    for warm batches and a fifth for lookups at their nominal costs."""
    return (max(2, int(round(seconds * 0.5 / MB_WARM_BATCH_S))),
            max(30, int(round(seconds * 0.2 / LOOKUP_S))))


def prepare_inputs(args, work):
    """Inputs for the JVM; returns (JVM options, seconds spent)."""
    t0 = time.time()
    if args.workload == "catalog":
        opts = {"corpus": os.path.join(HERE, "corpus"),
                "queries": os.path.join(HERE, "catalog", "queries.txt")}
        return opts, time.time() - t0
    warm, lookups = cdc_sizes(args.seconds)
    # one cold batch, then the warm ones
    mb = feed.microbatch_feed(args.seed, 1 + warm, MB_PER_FILE)
    bf = feed.backfill_feed(args.seed, BF_KEYS, BF_EVENTS_PER_KEY, BF_REPLAYS)
    opts = {"lookups": str(lookups)}
    for name, files in (("mb", mb), ("bf", bf)):
        path = os.path.join(work, name + ".tsv")
        digest = feed.write_feed(files, path)
        opts[name + "-feed"] = path
        info("%s feed: %d messages in %d files, %d planted late, sha256 %s"
             % (name, sum(len(f) for f in files), len(files),
                len(feed.planted_late(files)), digest))
    return opts, time.time() - t0


def run_jvm(args, classes, work, inputs):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the resident high-water mark and
    # the collection rhythm then do not depend on how the collector sized
    # the heap in this run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m",
           "-Djava.io.tmpdir=" + tmp] + JAVA_OPTS + [
        "-cp", os.pathsep.join([classes, build.classpath()]),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--cores", str(args.cores), "--work", work, "--out", out]
    for k, v in inputs.items():
        cmd += ["--" + k, v]
    launch = time.time()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("JVM run exceeded %d s" % JVM_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-6000:])
        raise SystemExit("JVM run failed (exit %d)" % proc.returncode)
    with open(out) as fh:
        return json.load(fh), launch


def account(res, expected_rows):
    """Counts every operation; returns the ledger and timings by kind.

    A catalog query also fails when its row count differs from the
    count the DuckDB oracle gives for it.
    """
    ledger = stats.Ledger()
    by_kind = {}
    for op in res["ops"]:
        expected = got = None
        if op["kind"] == "query":
            expected = expected_rows.get(op["name"])
            got = op.get("rows")
            if expected is None:
                op["error"] = op["error"] or "no expected row count"
        if ledger.record(op["name"], op["error"], expected, got):
            by_kind.setdefault(op["kind"], []).append(op["seconds"])
    return ledger, by_kind


def end_to_end(args, res, by_kind, setup_s):
    kind = OP_KIND[args.workload]
    times = by_kind.get(kind, [])
    m = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"]}
    if times:
        m["op_p50_ms"] = stats.percentile(times, 50) * 1000.0
        p, v = stats.tail(times)
        m["op_tail_ms"] = v * 1000.0
        info("op = %s: %d timed samples, tail reported at p%.1f" % (kind, len(times), p))
    if args.workload == "catalog":
        if times:
            m["throughput_per_s"] = len(times) / sum(times)
            info("catalog_s (sum of time to full result) = %.3f s over %d queries"
                 % (sum(times), len(times)))
            slow = sorted((op["seconds"], op["name"]) for op in res["ops"]
                          if op["kind"] == "query")[-5:]
            info("slowest queries: " + ", ".join("%s %.3f s" % (n, t) for t, n in reversed(slow)))
    elif "throughput_per_s" in res["e2e"]:
        m["throughput_per_s"] = res["e2e"]["throughput_per_s"]
    return m


def batch_figures(by_kind):
    """Commit latency of the warm micro-batches (cdc workload)."""
    times = by_kind.get("batch", [])
    if not times:
        return {}
    p, v = stats.tail(times)
    info("micro-batches: %d timed, p50 %.3f s, tail p%.1f %.3f s, cold first batch %s s"
         % (len(times), stats.percentile(times, 50), p, v,
            ["%.3f" % t for t in by_kind.get("first_batch", [])]))
    info("backfill: bulk batch %s s, census %s s"
         % (["%.3f" % t for t in by_kind.get("bulk_batch", [])],
            ["%.3f" % t for t in by_kind.get("census", [])]))
    return {"streaming.batch_p50_s": stats.percentile(times, 50),
            "streaming.batch_tail_s": v,
            "streaming.first_batch_s": sum(by_kind.get("first_batch", []))}


def per_layer(res, spec, extra):
    layers = dict(res["layers"])
    layers.update(extra)
    layers["env.calib_ms"] = statistics.mean(res["calib_ms"])
    out = {}
    for spec_m in spec["per_layer"]:
        name = spec_m["name"]
        # a layer the workload does not drive reads as zero
        out[name] = {"value": float(layers.get(name, 0.0)), "unit": spec_m["unit"]}
    extra = sorted(set(layers) - set(out))
    if extra:
        info("measured but not listed: " + ", ".join(extra))
    return out


def trace_overhead(args, m_traced, res):
    path = os.path.join(build.BUILD, "last_untraced_%s.json" % args.workload)
    info("tracing: %.3f s in ledger callbacks (%.1f%% of the %.1f s timed region)"
         % (res["trace_callback_s"], 100.0 * res["trace_callback_s"] / max(res["timed_s"], 1e-9),
            res["timed_s"]))
    if not os.path.exists(path):
        info("tracing overhead vs untraced: no untraced run of this workload "
             "in this checkout yet")
        return
    with open(path) as fh:
        base = json.load(fh)
    for k in ("op_p50_ms", "throughput_per_s"):
        if k in base and k in m_traced:
            info("tracing overhead on %s: traced %.4g vs last untraced %.4g (%+.1f%%)"
                 % (k, m_traced[k], base[k], 100.0 * (m_traced[k] / base[k] - 1)))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=nproc())
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("library sources (src/main/scala) not found next to perfbench/")
    spec = load_spec()
    classes = build.build()
    work = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, input_s = prepare_inputs(args, work)
        res, launch = run_jvm(args, classes, work, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected_rows = {}
    if args.workload == "catalog":
        with open(os.path.join(HERE, "catalog", "expected_rows.json")) as fh:
            expected_rows = json.load(fh)["rows"]
    ledger, by_kind = account(res, expected_rows)
    jvm_start_s = res["jvm_main_ms"] / 1000.0 - launch
    # one cold set-up: inputs, then JVM launch until the timed region
    setup_s = input_s + res["timed_start_ms"] / 1000.0 - launch
    info("setup_s = %.3f: inputs %.3f + JVM start %.3f + %s"
         % (setup_s, input_s, jvm_start_s, " + ".join(
             "%s %.3f" % kv for kv in res["setup_parts_s"].items())))
    info("env.calib_ms before/after = %.1f / %.1f" % tuple(res["calib_ms"]))
    info("failed_share = %d failed / %d attempted = %.4f"
         % (ledger.failed, ledger.attempted, ledger.failed_share))
    for name, err in ledger.failures[:20]:
        info("FAILED %s: %s" % (name, err))
    checks_ok = True
    for c in res["checks"]:
        info("check %-12s %s  %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))
        checks_ok &= c["ok"]
    if res["fatal"]:
        info("FATAL " + res["fatal"])
    correct = checks_ok and not res["fatal"] and ledger.failed == 0 and ledger.attempted > 0

    m = end_to_end(args, res, by_kind, setup_s)
    batches = batch_figures(by_kind)
    if args.trace:
        info("span self time by kind: " + ", ".join(
            "%s %.2f s" % kv for kv in sorted(res["span_self_s"].items())))
        trace_overhead(args, m, res)
        for line in UNMEASURED[args.workload]:
            info("not measured: " + line)
        metrics = per_layer(res, spec, batches)
    else:
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        missing = [k for k in units if k not in m]
        if missing:
            info("could not compute: " + ", ".join(missing))
            correct = False
        metrics = {k: {"value": float(m[k]), "unit": units[k]} for k in units if k in m}
        if correct:
            os.makedirs(build.BUILD, exist_ok=True)
            with open(os.path.join(build.BUILD, "last_untraced_%s.json" % args.workload), "w") as fh:
                json.dump(m, fh)
    info("timed region %.1f s, checks %.1f s, wall %.1f s"
         % (res["timed_s"], res["check_s"], time.time() - t_start))
    print(json.dumps({"correct": bool(correct), "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
