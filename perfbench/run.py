"""Benchmark of the osmium_tool_spark package.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process drives a local Spark
session with at most four cores. It writes the seeded inputs, sets up
once (JVM launch, session start, a cold first pass) and runs warm-up
passes. It then runs closed-loop passes until S seconds and at least four
passes are measured that the hypervisor did not disturb: each pass is one
batch job, the next starts when the previous one ends, and every output
is checked outside the timed interval. Two more set-ups (session restart
and first pass) follow, and the median set-up time is reported.

The workloads are flagship_fused and image_ingest (see
perfbench/DESIGN.md).

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
reports its per-layer metrics: spans around every layer call, Spark stage
intervals as child spans of the operator span, and counters read from
Spark's status store and AQE final plan. Every other pass of a traced run
is untraced, and the difference of their medians is the tracing overhead.
Spans are written to .perfbench/traces/ when the run ends.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3
MIN_PASSES = 4
# a pass during which the hypervisor took more than this share of the
# machine's CPU time for other guests is set aside (see DESIGN.md)
STEAL_MAX = 0.01
# measuring stops at this multiple of --seconds even when too few passes
# were undisturbed; all passes are then used
MAX_STRETCH = 2
# the operators a pass can call, named "<module>.<function>"
OP_FNS = (
    "pipeline.image_extract_tile",
    "multimodal.resize_images_real",
)
OP_COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "driver_idle_s", "executor_run_s",
    "executor_cpu_s", "cores_busy", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "straggler_ratio", "python_bytes_sent", "python_bytes_received",
    "persisted_rdds_delta",
)
# numOutputRows of these final-plan nodes of the flagship pipeline
FLAGSHIP_ROWS_NODES = ("Scan", "Filter", "Generate", "HashAggregate")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this one's CPUs
    were runnable, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class Clock:
    """Wall time of an interval, and the share of the machine's CPU time
    that the hypervisor stole during it."""

    def __enter__(self):
        self.t0, self.s0 = time.time(), steal_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.time() - self.t0
        self.steal = (steal_s() - self.s0) / (self.wall * (os.cpu_count() or 1))
        return False


def undisturbed(timed: list[tuple[float, float]], need: int) -> list[float]:
    """The times of the (seconds, steal share) intervals the hypervisor did
    not disturb; all of them when fewer than `need` qualify."""
    ok = [t for t, st in timed if st <= STEAL_MAX]
    return ok if len(ok) >= need else [t for t, _ in timed]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(times: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it. Below
    21 passes no percentile above the median has ten beyond it, so the
    rule is scaled down to one sample beyond: the second-slowest pass,
    which no single slow pass decides."""
    s, n = sorted(times), len(times)
    if n >= 21:
        return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n} passes (10 beyond)"
    return s[n - 2], f"second-slowest of {n} passes (fewer than 21, no percentile has 10 beyond)"


def start_session(work: str):
    from osmium_tool_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) is gone."""
    from pyspark import SparkContext

    from counters import descendants

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()

    def alive() -> list[int]:
        return [p for p in started if os.path.exists(f"/proc/{p}")]

    deadline = time.time() + 20
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while alive() and time.time() < deadline:
        time.sleep(0.1)


def clean_state(spark, reader) -> int:
    """Persisted RDDs a pass left behind; then clear the cache and release
    them so the next pass starts clean."""
    left = reader.persisted_rdds()
    spark.catalog.clearCache()
    reader.release_persisted()
    return left


def op_record(reader, tr, span: dict, result) -> dict:
    """Counters of one operator span: status-store window, self time,
    Python transfer bytes and per-node output rows."""
    from counters import plan_metrics

    rec = reader.window(span["start"], span["end"], CORES)
    for s in rec.pop("stage_list"):
        tr.add(f"spark.stage.{s['id']}", max(s["start"], span["start"]),
               min(s["end"], span["end"]), span["id"], tasks=s["tasks"])
    rec["driver_idle_s"] = tr.self_time(span["id"])
    sp = span
    while "count_before" not in sp and sp["parent"] is not None:
        sp = tr.spans[sp["parent"]]
    rec["persisted_rdds_delta"] = sp.get("count_after", 0) - sp.get("count_before", 0)
    sent = received = 0
    rows: dict[str, int] = {}
    if isinstance(result, tuple):  # (executed DataFrame, value)
        for node, m in plan_metrics(result[0]):
            sent += m.get("pythonDataSent", 0)
            received += m.get("pythonDataReceived", 0)
            if "numOutputRows" in m:
                key = node.split()[0]
                rows[key] = rows.get(key, 0) + m["numOutputRows"]
    else:  # the action ran inside the package: read the SQL status store
        for key, v in reader.sql_metrics(span["start"], span["end"]).items():
            if key.endswith("data sent to Python workers"):
                sent += v
            elif key.endswith("data returned from Python workers"):
                received += v
    rec["python_bytes_sent"] = sent
    rec["python_bytes_received"] = received
    rec["rows_out"] = rows
    return rec


def set_up(spark, wl, work: str, setup_s: list, session_s: list):
    """One set-up: stop the previous session, start a session and run a
    first pass. Returns the new session."""
    from counters import StatusReader
    from spans import Tracer

    with Clock() as c:
        t0 = time.time()
        if spark is not None:
            spark.stop()
        spark = start_session(work)
        session_s.append(time.time() - t0)
        w0 = time.time()
        wl.one_pass(spark, Tracer(False), -1)
        clean_state(spark, StatusReader(spark))
        wl.after_pass(-1)
    setup_s.append(c.wall)
    print(f"set-up {len(setup_s) - 1}: {c.wall:.2f} s (session start {session_s[-1]:.2f} s, "
          f"first pass {time.time() - w0:.2f} s; steal {100 * c.steal:.1f}%)")
    return spark


def measure(args, wl, work: str) -> dict:
    from counters import JvmMemory, PeakRss, StatusReader
    from spans import Tracer

    spark = None
    setup_s, session_s = [], []
    rss = PeakRss()
    try:
        t0 = time.time()
        wl.generate(args.seed, work)
        print(f"inputs: {time.time() - t0:.2f} s")
        wl.expect()
        # the first set-up launches the JVM and its first pass runs cold;
        # the measured passes run on this session once pass times have
        # stopped falling, and the later set-ups follow them
        spark = set_up(spark, wl, work, setup_s, session_s)
        reader = StatusReader(spark)
        warm = []
        for _ in range(wl.warmup):
            w0 = time.time()
            wl.one_pass(spark, Tracer(False), -1)
            clean_state(spark, reader)
            wl.after_pass(-1)
            warm.append(time.time() - w0)
        print(f"warm-up passes: {', '.join(f'{x:.2f}' for x in warm)} s")

        tr = Tracer(False, counter=reader.persisted_rdds)
        jvm_mem = JvmMemory(spark)
        untraced, traced = [], []
        attempted = failed = 0
        leftovers, errors, records, peaks, heap = [], [], [], [], []
        extras: list[dict] = []
        measured, p = 0.0, 0

        def enough() -> bool:
            ok = [t for t, st in untraced + traced if st <= STEAL_MAX]
            if len(ok) >= MIN_PASSES and sum(ok) >= args.seconds:
                return True
            return p >= MIN_PASSES and measured >= MAX_STRETCH * args.seconds

        while not enough():
            trace_this = args.trace == 1 and p % 2 == 0
            tr.enabled, tr.pass_id = trace_this, p
            n_spans = len(tr.spans)
            rss.start()
            jvm_mem.start()
            with Clock() as c:
                try:
                    with tr.span("pass"):
                        out = wl.one_pass(spark, tr, p)
                except Exception as e:  # the pass's operations count as failed
                    traceback.print_exc()
                    out = {}
                    errors.append(f"pass {p}: {type(e).__name__}: {e}")
            peaks.append(rss.stop())
            heap.append(jvm_mem.stop())
            print(f"pass {p}: {c.wall:.3f} s{' (traced)' if trace_this else ''}, "
                  f"steal {100 * c.steal:.1f}%")
            measured += c.wall
            (traced if trace_this else untraced).append((c.wall, c.steal))
            for op in wl.ops:
                attempted += 1
                errs = wl.check(op, out[op]) if op in out else [f"{op}: no result"]
                if errs:
                    failed += 1
                    errors.extend(f"pass {p}: {e}" for e in errs)
            if trace_this and out:
                rec = {}
                for s in tr.spans[n_spans:]:
                    if "op" in s:
                        rec[s["op"]] = op_record(reader, tr, s, out.get(s["op"]))
                records.append(rec)
                extras.append(wl.traced_extras(spark, tr, out))
            leftovers.append(clean_state(spark, reader))
            wl.after_pass(p)
            p += 1
        peak_mb = median(peaks) / (1 << 20)
        need = MIN_PASSES // 2 if args.trace else MIN_PASSES
        n_all = len(untraced) + len(traced)
        untraced, traced = undisturbed(untraced, need), undisturbed(traced, need)
        print(f"measured {n_all} passes in {measured:.2f} s; "
              f"{n_all - len(untraced) - len(traced)} were set aside for steal over "
              f"{100 * STEAL_MAX:.0f}%")

        metrics: dict[str, float] = {}
        if args.trace == 0:
            p50 = median(untraced)
            tail_v, tail_label = tail(untraced)
            metrics = {
                "pass_s.p50": p50,
                "pass_s.tail": tail_v,
                "input_rows_per_s": wl.input_rows / p50,
                "peak_rss_mb": peak_mb,
            }
            print(f"pass_s.tail is the {tail_label}")
        else:
            metrics = per_layer(spark, reader, wl, tr, records, extras, traced, untraced)
            for k in heap[0]:
                metrics[k] = median([h[k] for h in heap])
            print(f"tracing overhead: {metrics['tracing.overhead_s']:.4f} s per pass "
                  f"(median of {len(traced)} traced minus {len(untraced)} untraced passes)")
            n_traced = max(len(traced), 1)
            for name, xs in sorted(tr.self_times().items()):
                print(f"self time {name}: {sum(xs) / n_traced:.4f} s per traced pass")
        while len(setup_s) < SETUP_REPS:
            spark = set_up(spark, wl, work, setup_s, session_s)
        if args.trace == 0:
            metrics["setup_s"] = median(setup_s)
        else:
            metrics["session.jvm_launch_s"] = session_s[0]
            metrics["session.get_spark_s"] = median(session_s[1:])
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json")
            tr.dump(trace_path, counters=records, metrics=metrics)
            print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        # both of these are 0 on a healthy run; printed in every mode
        print(f"failed_ops = {failed / max(attempted, 1)} ratio ({failed} of {attempted})")
        print(f"cached_rdds_left = {max(leftovers, default=0)} count (max over {len(leftovers)} passes)")
        metrics["failed_ops"] = failed / max(attempted, 1)
        metrics["cached_rdds_left"] = float(max(leftovers, default=0))
        for e in errors[:20]:
            print(f"check failed: {e}")
        return {"attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        stop_everything(spark)


def per_layer(spark, reader, wl, tr, records, extras, traced, untraced) -> dict:
    m: dict[str, float] = {
        "tracing.overhead_s": median(traced) - median(untraced),
    }
    for fn in OP_FNS:
        recs = [r[fn] for r in records if fn in r]
        for k in OP_COUNTERS:
            m[f"operators.{fn}.{k}"] = float(median([r[k] for r in recs])) if recs else 0.0
        if fn == "pipeline.image_extract_tile":
            for node in FLAGSHIP_ROWS_NODES:
                m[f"operators.{fn}.rows_out.{node}"] = float(
                    median([r["rows_out"].get(node, 0) for r in recs])
                ) if recs else 0.0
    for k in ("plans.checkpointed.stage_s", "plans.checkpointed.histogram_s",
              "plans.checkpointed.write_bytes"):
        m[k] = float(median([e[k] for e in extras if k in e]))
    # sources: a noop-sink action on the source frame, three times; bytes
    # and rows are the scan node's "size of files read" and output rows
    scans = []
    for _ in range(3):
        t0 = time.time()
        spark.read.parquet(wl.source_path()).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        sql = reader.sql_metrics(t0, t1)
        scans.append((
            t1 - t0,
            sum(v for k, v in sql.items() if k.startswith("Scan") and k.endswith("size of files read")),
            sum(v for k, v in sql.items() if k.startswith("Scan") and k.endswith("number of output rows")),
        ))
    m["sources.scan_s"] = median([s[0] for s in scans])
    m["sources.input_bytes"] = float(median([s[1] for s in scans]))
    m["sources.input_rows"] = float(median([s[2] for s in scans]))
    for k in ("functions.geometry.extract_build_s", "functions.pip.raycast_us_per_point",
              "functions.codec.decode_us_per_image", "functions.codec.encode_us_per_image"):
        m[k] = 0.0
    m.update(wl.probes(spark, tr))
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found beside perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "osmium_tool_spark")):
        fail("the osmium_tool_spark package is not in this checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the package's own heap knob: 2g fits this benchmark's inputs. The
    # initial heap is pinned to the same size (start_session): a growing
    # heap sizes itself from GC pauses, so its resident memory moved by up
    # to 45% between runs of the same work
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # a terminated run still stops Spark and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        res = measure(args, WORKLOADS[args.workload](), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in wanted}
    missing = [n for n in units if n not in res["metrics"]]
    if missing:
        fail(f"metrics not produced: {missing}")
    for name, unit in units.items():
        print(f"{name} = {res['metrics'][name]} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(res["metrics"][n]), "unit": u} for n, u in units.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
