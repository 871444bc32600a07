"""CDC apply benchmark.

    python3 perfbench/run.py --workload trickle_ticks --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py`` and BENCHMARK.json) against
the engine's public entry points from the root of a checkout, checks
the final state of every pass, and prints one JSON object as the last
line of stdout: the end-to-end metrics (``--trace 0``) or the
per-layer metrics from spans and the Spark event log (``--trace 1``).
A detail artifact (host, parameters, every sample, noise-probe window
factors, the spans) is printed on the line before it and kept under
``.bench_work/artifacts/``. Exits non-zero when the correctness gate
fails or the package cannot be imported.
"""

from __future__ import annotations

import time

T_ENTRY = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

PROCESS_START = T_ENTRY - host.process_age_s()
# A traced run makes three warm passes and runs the middle one
# untraced, so the tracing overhead (traced minus untraced wall) is not
# confounded with warm-up drift.
TRACED_WARM = 3
# The inputs are small, so the driver heap is capped (the package
# default is 48g), committed at the cap and touched at JVM start (see
# _run). How much of a heap G1 grows and touches follows the GC pause
# times of the run, so without this peak RSS measures the host's noise;
# with it, the heap adds a constant and what moves is the JVM's
# off-heap memory, the Python driver and its workers.
DRIVER_MEM = "2g"


def _configure_env(work: str, cores: int) -> None:
    """Fit the session to this host and keep every file it writes
    inside the checkout."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    tempfile.tempdir = os.path.join(work, "tmp")


def _keep_prewarm_in_checkout(session_mod) -> None:
    """The session prewarm writes its scratch table under /dev/shm when
    that exists; make it see no /dev/shm so it uses $TMPDIR (inside the
    checkout). The prewarm's work is otherwise unchanged."""
    real_os = session_mod.os

    class _Path:
        def __getattr__(self, name):
            return getattr(real_os.path, name)

        @staticmethod
        def isdir(p):
            return False if p == "/dev/shm" else real_os.path.isdir(p)

    class _Os:
        path = _Path()

        def __getattr__(self, name):
            return getattr(real_os, name)

    session_mod.os = _Os()


class EpochClock:
    """Epoch boundaries of a pass: each manifest finalize is stamped
    (a wrapper around ``ManifestStore.finalize`` that only reads the
    clock); the last epoch of an engine call ends when the call
    returns, after any attached model has committed."""

    def __init__(self, manifest_cls):
        self.stamps: list[float] = []
        self.t0 = 0.0
        orig = manifest_cls.finalize

        def finalize(store, epoch, manifest):
            orig(store, epoch, manifest)
            self.stamps.append(time.perf_counter())

        manifest_cls.finalize = finalize

    def reset(self, t0: float) -> None:
        self.t0, self.stamps = t0, []

    def latencies(self, t_end: float) -> list[float]:
        bounds = [self.t0] + self.stamps[:-1] + [t_end]
        return [b - a for a, b in zip(bounds, bounds[1:])]


def _shutdown_jvm() -> None:
    """Stop the session's JVM and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _session_probe() -> float:
    """``--session-probe``: time get_spark in this fresh process."""
    from etl_warehouse_agnostic_spark import session as session_mod

    _keep_prewarm_in_checkout(session_mod)
    t0 = time.perf_counter()
    spark = session_mod.get_spark("perfbench-session-probe",
                                  cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    dt = time.perf_counter() - t0
    _shutdown_jvm()
    return dt


def _noprewarm_get_spark_s(work: str) -> float:
    env = dict(os.environ, SPARK_GRAFT_PREWARM="0")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--session-probe",
         "--work", os.path.join(work, "probe")],
        env=env, capture_output=True, text=True, timeout=150, cwd=ROOT,
    )
    if out.returncode != 0:
        raise RuntimeError(f"session probe failed: {out.stderr[-2000:]}")
    return float(json.loads(out.stdout.strip().splitlines()[-1])["get_spark_s"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--session-probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = args.work or os.path.join(
        bench_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _configure_env(work, cores)
    sys.path.insert(0, ROOT)
    try:
        if args.session_probe:
            print(json.dumps({"get_spark_s": _session_probe()}))
            return 0
        return _run(args, work, bench_dir, cores)
    finally:
        if "pyspark" in sys.modules:
            _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, bench_dir: str, cores: int) -> int:
    from etl_warehouse_agnostic_spark import session as session_mod
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore

    import spans as tr
    from workloads import PARAMS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _keep_prewarm_in_checkout(session_mod)
    clock = EpochClock(ManifestStore)
    conf = {"spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
    if args.trace:
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}

    def get_spark():
        return session_mod.get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=conf)

    tracer = None
    if args.trace:
        from pyspark import SparkContext

        tracer = tr.Tracer(args.workload, lambda: SparkContext._active_spark_context)
        tracer.pass_idx = 0
        undo = tr.instrument(tracer)
        sp = tracer.open("session.get_spark")

    # ---- set-up (cold): process start -> session built -> recovered
    spark = get_spark()
    t_spark = time.perf_counter()
    if tracer:
        tracer.close(sp)
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, work, args.seed, cores)
    if hasattr(wl, "preload"):
        wl.preload(spark)
    gen_s = time.perf_counter() - t_gen
    wl.open(spark)
    t_rec = time.perf_counter()
    wl.recover()
    recover_s = time.perf_counter() - t_rec
    setup_s = (t_spark - PROCESS_START) + recover_s

    probe = host.NoiseProbe(spark, cores)
    probe.probe()

    # ---- measured passes: cold, then the workload's min_warm warm ones
    # and more until their wall sums to --seconds
    passes: list[dict] = []
    failed = attempted = 0
    error = None
    while True:
        i = len(passes)
        if tracer:
            tracer.pass_idx = i
            tracer.enabled = i != 2
        cpu0 = host.cpu_ticks()
        try:
            rec = wl.run_pass(spark, clock)
        except Exception:  # noqa: BLE001 - a failed pass is a measured outcome
            error = traceback.format_exc()
            per_pass = PARAMS[args.workload].get("epochs", 1)
            attempted += per_pass
            failed += per_pass
            break
        rec["steal_share"] = host.steal_share(cpu0, host.cpu_ticks())
        rec["traced"] = bool(tracer and tracer.enabled)
        rec["probe_s"] = probe.probe()
        passes.append(rec)
        attempted += rec["epochs"]
        if not rec["correct"]:
            failed += rec["epochs"]
        warm = passes[1:]
        if (len(warm) >= (TRACED_WARM if tracer else PARAMS[args.workload]["min_warm"])
                and sum(r["wall_s"] for r in warm) >= args.seconds):
            break
    if tracer:
        tracer.enabled = True
    rss_procs = host.rss_by_process()
    peak_rss = sum(r.get("VmHWM", 0) for r in rss_procs)

    wl.close()
    _shutdown_jvm()

    factors = probe.window_factors()
    for rec, f in zip(passes, factors):
        rec["window_factor"] = f
    correct = error is None and all(r["correct"] for r in passes) and len(passes) >= 2
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.host_info(ROOT),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "params": PARAMS[args.workload],
        "setup_s": setup_s, "input_gen_s": gen_s, "recover_s": recover_s,
        "probe_s": probe.samples, "passes": passes, "peak_rss_bytes": peak_rss,
        "rss_by_process": rss_procs,
        "error": error,
    }

    metrics = {}
    if args.trace:
        undo()
        if correct:
            metrics = _layer_metrics(tracer, passes, os.path.join(work, "eventlog"), work, artifact)
    elif correct:
        metrics = _e2e_metrics(passes, setup_s, peak_rss)
    artifact["warm_epoch_samples"] = sum(len(r["epoch_s"]) for r in passes[1:])

    os.makedirs(os.path.join(bench_dir, "artifacts"), exist_ok=True)
    art_path = os.path.join(bench_dir, "artifacts",
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    summary = {k: v for k, v in artifact.items() if k not in ("spans", "passes")}
    summary["pass_walls_s"] = [r["wall_s"] for r in passes]
    summary["window_factors"] = factors
    summary["artifact"] = os.path.relpath(art_path, ROOT)
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": max(1, attempted), "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


def _e2e_metrics(passes: list[dict], setup_s: float, peak_rss: int) -> dict:
    cold, warm = passes[0], passes[1:]
    warm_wall = sum(r["wall_s"] for r in warm)
    epochs = [e for r in warm for e in r["epoch_s"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_s": {"value": cold["wall_s"], "unit": "s"},
        "apply_events_per_s": {"value": sum(r["events"] for r in warm) / warm_wall, "unit": "1/s"},
        "epoch_p50_s": {"value": _median(epochs), "unit": "s"},
        "write_amp": {"value": sum(r["table_bytes"] for r in warm)
                      / sum(r["event_bytes"] for r in warm), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def _layer_metrics(tracer, passes, log_dir, work, artifact) -> dict:
    import spans as tr

    jobs = tr.fold_event_log(log_dir)
    spans = tracer.spans

    def job_of(sp, noop=False):
        return jobs.get(f"pb:{sp.id}" + (":noop" if noop else ""), {})

    traced = [i for i, r in enumerate(passes) if r["traced"] and i > 0]
    n = max(1, len(traced))
    in_warm = [s for s in spans if s.pass_idx in traced]
    by_name: dict[str, list] = {}
    for s in in_warm:
        by_name.setdefault(s.name, []).append(s)

    self_t: dict[int, float] = {}
    epochs = by_name.get("engine.epoch", [])
    additivity = []
    for ep in epochs:
        st = tr.attribute_self_times(spans, ep)
        self_t.update(st)
        additivity.append({"epoch": ep.epoch, "pass": ep.pass_idx,
                           "span_s": ep.end - ep.start, "sum_self_s": sum(st.values())})
    artifact["epoch_additivity"] = additivity

    def per_pass(v):
        return v / n

    def self_sum(name, pred=lambda s: True):
        return per_pass(sum(self_t.get(s.id, s.end - s.start)
                            for s in by_name.get(name, []) if pred(s)))

    def attr_sum(name, key, pred=lambda s: True):
        return per_pass(sum(s.attrs.get(key, 0) for s in by_name.get(name, []) if pred(s)))

    def jobs_sum(name, key, noop=False, pred=lambda s: True):
        return per_pass(sum(job_of(s, noop).get(key, 0) for s in by_name.get(name, []) if pred(s)))

    def bronze(s):  # a bronze merge/write sits directly under the epoch
        p = tracer.parent_of(s)
        return p is not None and (p.name == "engine.epoch" or (
            p.name == "merge" and tracer.parent_of(p) is not None
            and tracer.parent_of(p).name == "engine.epoch"))

    session = [s for s in spans if s.name == "session.get_spark"]
    rows_read = attr_sum("sources.read_slice", "rows_out")
    dedup_out = attr_sum("dedup", "rows_out")
    merge_rows = attr_sum("merge", "rows_written", bronze)
    merge_writes = [s for s in by_name.get("merge.write", []) if bronze(s)]
    bronze_merges = [s for s in by_name.get("merge", []) if bronze(s)]

    def merge_jobs(key):  # the merge's own jobs plus its rewrite's
        return per_pass(sum(job_of(s).get(key, 0) for s in bronze_merges + merge_writes))

    retries = sum(max(0, sum(1 for w in merge_writes if w.parent == m.id) - 1)
                  for m in bronze_merges)

    # engine-owned Spark jobs in each epoch (the benchmark's noop
    # materializations excluded)
    def subtree(root):
        ids, todo = set(), [root.id]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(s.id for s in spans if s.parent == i)
        return ids

    ep_jobs = ep_tasks = 0
    for ep in epochs:
        for i in subtree(ep):
            j = jobs.get(f"pb:{i}", {})
            ep_jobs += j.get("jobs", 0)
            ep_tasks += j.get("tasks", 0)
    n_ep = max(1, len(epochs))

    be = by_name.get("backends.merge", [])
    be_spark = per_pass(sum(tr.union_len(job_of(s).get("intervals", [])) / 1000 for s in be))
    be_wall = per_pass(sum(s.end - s.start for s in be))

    models = ("turns_silver", "gold_from_silver", "day_rollup_delta")
    dag_wall = 0.0
    for ep in epochs:
        ms = [s for s in spans if s.parent == ep.id and s.name.startswith("silver.")]
        if ms:
            dag_wall += max(s.end for s in ms) - min(s.start for s in ms)

    untraced = [r["wall_s"] for i, r in enumerate(passes) if i > 0 and not r["traced"]]
    traced_w = [passes[i]["wall_s"] for i in traced]

    m = {
        "session.get_spark_s": (session[0].end - session[0].start, "s"),
        "session.get_spark_noprewarm_s": (_noprewarm_get_spark_s(work), "s"),
        "sources.max_lsn_s": (self_sum("sources.max_lsn"), "s"),
        "sources.slice_scan_s": (self_sum("sources.read_slice"), "s"),
        "sources.rows_read": (rows_read, "count"),
        "dedup.s": (self_sum("dedup"), "s"),
        "dedup.rows_out": (dedup_out, "count"),
        "dedup.keep_ratio": (dedup_out / rows_read if rows_read else 0.0, "ratio"),
        "dedup.shuffle_bytes": (jobs_sum("dedup", "shuffle_bytes", noop=True), "bytes"),
        "evolution.project_s": (self_sum("evolution.project_arrow"), "s"),
        "evolution.columns_added": (attr_sum("evolution.new_fields", "columns_added"), "count"),
        "stage.write_s": (self_sum("stage.write", bronze), "s"),
        "stage.rows": (attr_sum("stage.write", "rows", bronze), "count"),
        "stage.bytes": (attr_sum("stage.write", "bytes", bronze), "bytes"),
        "stage.files": (attr_sum("stage.write", "files", bronze), "count"),
        "stage.buckets": (attr_sum("stage.write", "buckets", bronze), "count"),
        "merge.s": (per_pass(sum(s.end - s.start for s in bronze_merges)), "s"),
        "merge.jobs": (merge_jobs("jobs"), "count"),
        "merge.buckets_rewritten": (attr_sum("merge", "buckets_rewritten", bronze), "count"),
        "merge.files_rewritten": (attr_sum("merge", "files_before", bronze), "count"),
        "merge.rows_written": (merge_rows, "count"),
        "merge.bytes_written": (attr_sum("merge", "bytes_written", bronze), "bytes"),
        "merge.useful_ratio": (attr_sum("merge", "changed_rows", bronze) / merge_rows
                               if merge_rows else 0.0, "ratio"),
        "merge.shuffle_bytes": (merge_jobs("shuffle_bytes"), "bytes"),
        "merge.retries": (per_pass(retries), "count"),
        "manifest.finalize_s": (self_sum("manifest.finalize"), "s"),
        "manifest.bytes": (attr_sum("manifest.finalize", "bytes"), "bytes"),
        "engine.recover_s": (self_sum("engine.recover"), "s"),
        "engine.epoch_self_s": (per_pass(sum(self_t.get(ep.id, 0.0) for ep in epochs)), "s"),
        "engine.jobs_per_epoch": (ep_jobs / n_ep, "count"),
        "engine.tasks_per_epoch": (ep_tasks / n_ep, "count"),
        "silver.dag_wall_s": (per_pass(dag_wall), "s"),
        "backends.merge_s": (be_wall, "s"),
        "backends.merge_spark_s": (be_spark, "s"),
        "backends.merge_db_s": (max(0.0, be_wall - be_spark), "s"),
        "backends.rows": (attr_sum("backends.merge", "rows_written"), "count"),
        "trace.overhead_s": (_median(traced_w) - _median(untraced), "s"),
    }
    for name in models:
        m[f"silver.{name}.s"] = (per_pass(sum(s.end - s.start for s in by_name.get(f"silver.{name}", []))), "s")
        m[f"silver.{name}.rows_written"] = (attr_sum(f"silver.{name}", "rows_written"), "count")
    artifact["spans"] = tracer.dump()
    artifact["lazy_layers"] = (
        "read_slice, lww_dedup and the projection are persisted and run into the noop "
        "sink inside their spans in the traced run only; later layers read the cached "
        "rows. Layer values are per traced warm pass.")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
