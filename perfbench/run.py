"""Pipeline benchmark: one workload, one seed, a closed loop, one client.

Run from the repository root:

    python3 perfbench/run.py --workload incremental-ingest --seed 1 \\
        --seconds 10 --trace 0

The next op starts only after the previous one returned. Ops run until
their summed wall reaches --seconds and the workload's `min_ops` ran.
Inputs come from --seed alone. Output checks run outside the timed
region and a failed op counts in `failed`. The last stdout line is one
JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (see README.md). Everything the run writes stays under
.bench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

E2E = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "space_amp": "ratio",
}

CURATION_STAGES = (
    "land", "neardup_probe", "batch_filters", "merge", "dedup", "quality",
    "decon_freeze", "decon_gate", "ppl_freeze", "ppl_gate", "rates_freeze",
    "split_pairs", "split_components", "curated_write", "shards",
)
REFERENCE_STAGES = {
    "ingest-gdp_growth": ("flatten", "validate", "write", "counts"),
    "ingest-unemployment": ("flatten", "validate", "write", "counts"),
    "transform-cleaned": ("load", "features", "write", "preview"),
}
SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "executor_run_s": "s", "executor_cpu_s": "s",
    "driver_serial_s": "s", "error_log_lines": "count",
    "write_amp": "ratio",
}

# per-span ledger fields kept in the trace file
SPAN_LEDGER = ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "executor_run_s", "executor_cpu_s")


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    m = {"session.get_spark.self_s": "s"}
    for fn in ("curate_batch", "curate_increment"):
        m[f"plans.curation_pipeline.{fn}.self_s"] = "s"
    for k in CURATION_STAGES:
        m[f"plans.curation_pipeline.stage.{k}_s"] = "s"
    m["plans.curation_pipeline.maintain_curation.self_s"] = "s"
    m["plans.curation_pipeline.survivor_frac"] = "ratio"
    for fn in ("probe", "commit"):
        m[f"operators.sig_store.{fn}.self_s"] = "s"
        m[f"operators.sig_store.{fn}.jobs"] = "count"
    m["operators.sig_store.compact.self_s"] = "s"
    m["operators.sig_store.files"] = "count"
    m["operators.sig_store.bytes"] = "bytes"
    m["operators.dedup.minhash_lsh_pairs.self_s"] = "s"
    m["operators.dedup.minhash_lsh_pairs.jobs"] = "count"
    for fn in ("append", "overwrite", "merge_into", "read", "maintain"):
        m[f"sources.snapshot_table.{fn}.self_s"] = "s"
    m["sources.snapshot_table.merge_into.jobs"] = "count"
    m["sources.snapshot_table.commits"] = "count"
    m["sources.snapshot_table.files_live"] = "count"
    m["sources.snapshot_table.bytes_rewritten"] = "bytes"
    for fn in ("hybrid_search", "build_search_index"):
        m[f"plans.search_pipeline.{fn}.self_s"] = "s"
    for fn in ("bm25_scores", "mmr_rerank"):
        m[f"operators.search.{fn}.self_s"] = "s"
    for fn in ("ann_index_search", "build_ann_index"):
        m[f"operators.ann_index.{fn}.self_s"] = "s"
    for p, stages in REFERENCE_STAGES.items():
        for st in stages:
            m[f"plans.reference_pipelines.stage.{p}.{st}_s"] = "s"
    m["operators.upsert.upsert_parquet.self_s"] = "s"
    m["operators.upsert.upsert_parquet.rows"] = "count"
    for k, unit in SPARK.items():
        m[f"spark.{k}"] = unit
    m["trace.op_p50_s"] = "s"
    m["trace.untraced_s"] = "s"
    m["trace.ops"] = "count"
    return m


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> dict:
    """Keep every file the run writes inside its work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # local[2] on a 4-core machine: the executor threads, their Python
    # workers, the driver JVM's JIT and GC threads and the client then
    # fit in the cores, so a run measures the program and not the
    # scheduler. Shuffle partitions stay 32 (get_spark's floor), so the
    # plans are those of local[4].
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(max(1, min(2, (os.cpu_count() or 1) // 2))))
    # a fixed 1g heap, committed at start: peak RSS then tracks off-heap
    # memory and the Python workers instead of when G1 chose to grow
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms"
            + os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class _Stderr:
    """Send fd 2 (inherited by the JVM and its workers) to a file, and
    keep Python's own sys.stderr on the terminal."""

    def __init__(self, path: str):
        self.path = path
        self.saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        self.real = os.fdopen(os.dup(self.saved), "w", buffering=1)
        sys.stderr = self.real

    def restore(self) -> None:
        os.dup2(self.saved, 2)
        os.close(self.saved)
        sys.stderr = sys.__stderr__
        self.real.close()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_spark(spark, seen_pids: set[int]) -> None:
    """Stop the session, end the JVM, and wait for every process of its
    tree; a process still up after the grace period is killed."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in seen_pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span_values(tracer, spark_ledger, root) -> dict:
    """Layer values of one op (or the set-up): self time and jobs per
    span name, and the Spark totals of every job under the root.
    A job with no group (started on a thread the package spawned)
    goes to the innermost span open when it was submitted: the
    client is single-threaded, so that span is waiting on it."""
    from spans import self_times

    sub = tracer.subtree(root)
    selft = self_times(sub)
    jobs = {s.sid: spark_ledger.group_jobs(s.group) for s in sub}
    for jid, ts in spark_ledger.ungrouped_jobs(root.t0, root.t1):
        inner = max((s for s in sub if s.t0 <= ts <= s.t1),
                    key=lambda s: s.t0, default=root)
        jobs[inner.sid].append(jid)
    vals: dict = {}

    def add(key, v):
        vals[key] = vals.get(key, 0) + v

    for s in sub[1:]:
        if s.attrs.get("stage"):  # a pipeline stage: its whole wall
            add(f"{s.name}_s", s.t1 - s.t0)
            continue
        add(f"{s.name}.self_s", selft[s.sid])
        add(f"{s.name}.jobs", len(jobs[s.sid]))
        if "rows" in s.attrs:
            add(f"{s.name}.rows", s.attrs["rows"])
        # the span's own jobs, for the trace file (not in the JSON)
        own = spark_ledger.summarize(jobs[s.sid], s.t0, s.t1)
        for k in SPAN_LEDGER:
            add(f"{s.name}.spark.{k}", own[k])
    all_jobs = sorted({j for js in jobs.values() for j in js})
    for k, v in spark_ledger.summarize(all_jobs, root.t0, root.t1).items():
        vals[f"spark.{k}"] = v
    vals["trace.untraced_s"] = selft[root.sid]
    # the span tree partitions the root's wall: these two add up to it
    vals["trace.layer_self_s"] = sum(selft[s.sid] for s in sub[1:])
    vals["trace.wall_s"] = root.t1 - root.t0
    return vals


def _layer_report(ops: list[dict], setup: dict, op_walls: list[float]
                  ) -> dict:
    """Median over ops of each metric; a layer no op reached takes its
    set-up value (e.g. the bootstrap's rebuild stages)."""
    out = {}
    for name, unit in layer_metrics().items():
        if any(name in o for o in ops):
            v = _median([o.get(name, 0.0) for o in ops])
        else:
            v = setup.get(name, 0.0)
        out[name] = {"value": v, "unit": unit}
    out["trace.op_p50_s"]["value"] = _median(op_walls)
    out["trace.ops"]["value"] = len(op_walls)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import data_engineering_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {root}: {exc}",
              file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(
        bench_dir, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    extra_conf = _environment(work)
    err = _Stderr(os.path.join(work, "stderr.log"))
    seen_pids: set[int] = set()
    try:
        result = _run(args, work, extra_conf, err, seen_pids)
    except Exception:  # noqa: BLE001 - the run's boundary: report, fail
        traceback.print_exc()
        result = None
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            _stop_spark(spark, seen_pids)
        err.restore()
    if result is None:
        print(f"perfbench: run failed; JVM log kept at {work}/stderr.log",
              file=sys.stderr)
        return 1
    report, sidecar = result
    os.makedirs(bench_dir, exist_ok=True)
    side_path = os.path.join(
        bench_dir, f"trace-{args.workload}-s{args.seed}.json")
    if args.trace:
        with open(side_path, "w") as fh:
            json.dump(sidecar, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for line in report["lines"]:
        print(line)
    if args.trace:
        print(f"spans and per-op ledger: {side_path}")
    print(json.dumps(report["result"]))
    return 0


def _run(args, work, extra_conf, err, seen_pids):
    import ledger
    import spans
    from workloads import WORKLOADS

    tracer = spans.Tracer(enabled=bool(args.trace))
    t_setup = time.perf_counter()
    from data_engineering_pipeline_spark.session import get_spark

    with tracer.span("session.get_spark") as s_session:
        spark = get_spark(extra_conf=extra_conf)
    sc = spark.sparkContext
    tracer.sc = sc
    jvm = sc._gateway.proc.pid
    spark.range(1).count()  # the first job pays the engine's lazy init
    if tracer.enabled:
        spans.instrument(tracer)
    wl = WORKLOADS[args.workload](
        spark, os.path.join(work, "wl"), args.seed, tracer)
    with tracer.span("setup") as s_setup:
        wl.setup()
    setup_s = time.perf_counter() - t_setup

    log = ledger.StderrLog(err.path)
    spark_ledger = ledger.SparkLedger(sc) if tracer.enabled else None
    sampler = ledger.RssSampler(jvm)
    lat: list[float] = []
    failed: set[int] = set()
    op_vals: list[dict] = []
    busy = 0.0
    errors_in_ops = 0
    i = 0
    try:
        while True:
            wl.prepare(i)
            log.mark()
            wb0 = ledger.write_bytes(jvm)
            sampler.arm()
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span("op") as s_op:
                    wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t0
            sampler.disarm()
            op_errors = log.errors_since_mark()
            errors_in_ops += op_errors
            seen_pids.update(ledger.process_tree(jvm))
            lat.append(dt)
            busy += dt
            if ok:
                try:
                    wl.after_op(i)
                except Exception:  # noqa: BLE001 - check failure
                    traceback.print_exc()
                    ok = False
            if not ok:
                failed.add(i)
            if tracer.enabled:
                v = _span_values(tracer, spark_ledger, s_op)
                v["spark.error_log_lines"] = op_errors
                v["spark.write_amp"] = (
                    (ledger.write_bytes(jvm) - wb0)
                    / max(1, wl.op_input_bytes(i)))
                v.update(wl.op_values.get(i, {}))
                op_vals.append(v)
            i += 1
            if busy >= args.seconds and i >= wl.min_ops:
                break
    finally:
        sampler.close()
    n = len(lat)
    t_check = time.perf_counter()
    try:
        failed |= wl.check(n)
    except Exception:  # noqa: BLE001 - a check that cannot run fails all
        traceback.print_exc()
        failed |= set(range(n))
    disk, inp = wl.space()
    tail = spans.tail_percentile(lat)
    lines = [
        f"workload {wl.name} seed {args.seed}: {n} ops in {busy:.2f} s "
        f"(closed loop, 1 client, {os.environ['SPARK_GRAFT_CPUS']} cores)",
        f"set-up {setup_s:.2f} s, final checks "
        f"{time.perf_counter() - t_check:.2f} s",
        f"failed_frac {len(failed)}/{n} = {len(failed) / n:.4f}",
        f"op_p50_s {_median(lat):.4f} (n={n}; walls "
        + " ".join(f"{x:.3f}" for x in lat) + ")",
        ("op_tail_s omitted: fewer than "
         f"{spans.TAIL_MIN_BEYOND} samples beyond p75 (n={n})" if tail is None
         else f"op_tail_s p{tail[0]:g} {tail[1]:.4f} (n={n})"),
        f"JVM stderr ERROR lines: {errors_in_ops} during ops, "
        f"{ledger.StderrLog(err.path).errors_since_mark()} in the whole run",
    ]
    if tracer.enabled:
        setup_vals = _span_values(tracer, spark_ledger, s_setup)
        setup_vals.update(wl.setup_values)
        setup_vals["session.get_spark.self_s"] = \
            s_session.t1 - s_session.t0
        metrics = _layer_report(op_vals, setup_vals, lat)
        last = op_vals[-1]
        lines.append(
            f"last op: span wall {last['trace.wall_s']:.3f} s = self "
            f"times of its layer spans {last['trace.layer_self_s']:.3f} s"
            f" + untraced {last['trace.untraced_s']:.3f} s")
        sidecar = {
            "workload": wl.name, "seed": args.seed, "op_walls": lat,
            "ops": op_vals, "setup": setup_vals,
            "spans": [vars(s) for s in tracer.spans],
        }
        tracer.unpatch()
    else:
        metrics = {
            "setup_s": setup_s,
            "items_per_s": wl.items_per_op * n / busy,
            "op_p50_s": _median(lat),
            "peak_rss_mb": sampler.peak / 2**20,
            "space_amp": disk / inp,
        }
        metrics = {k: {"value": v, "unit": E2E[k]}
                   for k, v in metrics.items()}
        sidecar = None
    result = {"correct": not failed, "attempted": n,
              "failed": len(failed), "metrics": metrics}
    return {"lines": lines, "result": result}, sidecar


if __name__ == "__main__":
    sys.exit(main())
