"""Benchmark runner: one seeded, closed-loop workload against the engine.

    python3 perfbench/run.py --workload ecom_import --seed 1 --seconds 15 --trace 0

Run from the repository root.  Prints one line per metric (name, value,
unit), the output-check verdict and run metadata, and as its LAST line one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` the per-layer ones, from spans recorded around every public
layer function (perfbench/spans.py), plus the tracer's own overhead.

Everything the run writes (fixtures, feeds, stores, Spark scratch and
warehouse) lives in a private directory under `.perfbench_tmp/` that is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; failed operations are +inf samples."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it."""
    for q in LADDER:
        if len(values) * (1 - q) >= 10:
            return q, quantile(values, q)
    return None, None


def cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def configure_env(tmp: str) -> None:
    """Size Spark to this host and keep all of its files inside `tmp`."""
    # one core fewer than the host has: the driver's own threads (query
    # planning, py4j, the Python client, JIT and GC) are on every
    # operation's blocking path and would otherwise wait for a task slot
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_mb = min(1024, mem_kb // 4096)
    local = os.path.join(tmp, "spark-local")
    java_tmp = os.path.join(tmp, "java-tmp")
    os.makedirs(local)
    os.makedirs(java_tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # a quarter of RAM, at most 1g: the workloads' data is small and
        # the host is shared
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        # glibc's default of 8 malloc arenas per core lets the JVM's native
        # footprint, and so peak RSS, vary with thread timing from run to run
        MALLOC_ARENA_MAX="2",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=java_tmp,
        # every JVM, the spark-submit launcher's too: temp files under tmp
        # and no /tmp/hsperfdata_<user> file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        # the driver heap is committed and touched at start: peak RSS is
        # then the heap's size plus what the program holds outside it,
        # not the point G1 happened to grow the heap to in this run
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Xms{heap_mb}m -XX:+AlwaysPreTouch' "
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
            f"pyspark-shell"
        ),
    )
    os.chdir(tmp)  # derby.log / metastore_db / checkpoints land here


def stop_spark() -> None:
    """Stop Spark and wait for its JVM to exit, also when the session is
    half-started or a signal broke the gateway connection mid-call."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    try:
        import dataintegration_ecomprovider_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    # SIGTERM unwinds like an error, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_base = os.path.join(os.getcwd(), ".perfbench_tmp")
    tmp = os.path.join(tmp_base, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        configure_env(tmp)
        result, report = run(args, tmp, workloads)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            stop_spark()
        finally:
            os.chdir(tmp_base)
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(tmp_base)
            except OSError:
                pass
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


def run(args, tmp, workloads):
    import spans

    tracer = spans.Tracer() if args.trace else None
    if tracer:
        tracer.install()
    steal0 = cpu_times()
    t_setup = time.perf_counter()
    from dataintegration_ecomprovider_spark import session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer:
        tracer.attach(spark)
    wl = workloads.WORKLOADS[args.workload](spark, tmp, args.seed, tracer)
    wl.phases["session"] = time.perf_counter() - t_setup
    wl.setup()
    setup_s = time.perf_counter() - t_setup

    from dataintegration_ecomprovider_spark.plans import commit_protocol

    commit_protocol.reset_contention_stats()
    samples = []  # (kind, seconds, rows, ok)
    layer = LayerProbe(wl, tracer) if tracer else None
    t_loop = time.perf_counter()
    i = 0
    while True:
        # whole rounds only, so every run has the same operation mix
        if i % wl.round_len == 0 and (
                time.perf_counter() - t_loop >= args.seconds or i >= wl.max_ops):
            break
        kind = wl.kind_of(i)
        if tracer:
            tracer.op_id = i
            op_span = tracer.open(f"op.{kind}")
        t0 = time.perf_counter()
        try:
            rows, ok = wl.op(i), True
        except Exception:  # noqa: BLE001 — every failure is counted, the loop goes on
            rows, ok = 0, False
            print(f"op {i} ({kind}) failed:\n{traceback.format_exc()}", file=sys.stderr)
        dt = time.perf_counter() - t0
        if tracer:
            tracer.close(op_span)
            tracer.op_id = None
            layer.after_op(kind)
        samples.append((kind, dt, rows, ok))
        i += 1
    loop_s = time.perf_counter() - t_loop
    # peak RSS of set-up and loop; the output check below is not the program's
    rss_py = hwm_mb("self")
    rss_jvm = hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    if tracer:
        # the output check is not the program's: record no spans for it
        tracer.uninstall()
        wl.tracer = None

    t_check = time.perf_counter()
    try:
        wl.check()
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails the run
        wl.problems.append(f"output check raised {type(e).__name__}: {e}")
    check_s = time.perf_counter() - t_check
    steal1 = cpu_times()

    attempted = len(samples)
    failed = sum(1 for s in samples if not s[3])
    lat = [s[1] if s[3] else math.inf for s in samples]
    rows = sum(s[2] for s in samples if s[3])
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (quantile(lat, 0.5), "s"),
        "op_s_mean": (sum(lat) / attempted, "s"),
        "rows_per_s": (rows / loop_s, "1/s"),
        "peak_rss_mb": (rss_py + rss_jvm, "MB"),
    }
    by_kind = kind_stats(samples, loop_s)
    report = [f"workload {args.workload} seed {args.seed}: {attempted} ops in "
              f"{loop_s:.2f} s, {failed} failed",
              "  set-up phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in wl.phases.items())
              + f"; output check {check_s:.2f} s"]
    report.append("  operations in order: " + ", ".join(
        f"{kind} {dt:.2f} s" + ("" if ok else " FAILED") for kind, dt, _, ok in samples))
    for kind, st in by_kind.items():
        q, v = st["tail"]
        report.append(
            f"  {kind}: n={st['n']} p50={st['p50']:.4f} s "
            + (f"tail p{q * 100:g}={v:.4f} s" if q else "tail n/a (<20 samples)")
            + f" rows/s={st['rows_per_s']:.1f}")
    report.append(f"  peak rss: python {rss_py:.1f} MB, jvm {rss_jvm:.1f} MB")
    jiffies = steal1[0] - steal0[0]
    report.append(f"  host cpu steal {100.0 * (steal1[1] - steal0[1]) / max(1, jiffies):.2f}% "
                  f"over the run; cpus {os.environ['SPARK_GRAFT_CPUS']}, "
                  f"driver mem {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    verdict = "PASS" if not wl.problems else "FAIL"
    report.append(f"  output check: {verdict}")
    report.extend(f"    {n}" for n in wl.notes)
    for p in wl.problems:
        report.append(f"    {p}")
    if tracer:
        report.extend(tracer.table())
        metrics = layer.rollup(by_kind, attempted, loop_s)
    else:
        metrics = end_to_end
    for name, (value, unit) in metrics.items():
        report.append(f"  {name} = {value:.6g} {unit}")
    result = {
        "correct": not wl.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": finite(v), "unit": u} for n, (v, u) in metrics.items()},
    }
    return result, report


def finite(v: float) -> float:
    return v if math.isfinite(v) else 1e9


def kind_stats(samples, loop_s):
    out = {}
    for kind in ("write", "read"):
        s = [x for x in samples if x[0] == kind]
        if not s:
            continue
        lat = [x[1] if x[3] else math.inf for x in s]
        out[kind] = {
            "n": len(s), "p50": quantile(lat, 0.5), "tail": tail(lat),
            "rows_per_s": sum(x[2] for x in s if x[3]) / loop_s,
            "failed": sum(1 for x in s if not x[3]),
        }
    return out


class LayerProbe:
    """Per-layer counts taken at operation boundaries of the traced run."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.store_bytes_written = 0
        self.depth, self.files = [], []
        self.usage = None
        self.files_before = self._files()

    def _files(self) -> dict:
        out = {}
        if self.wl.root:
            for d, _, names in os.walk(self.wl.root):
                for n in names:
                    p = os.path.join(d, n)
                    try:
                        out[p] = os.path.getsize(p)
                    except OSError:
                        pass
        return out

    def after_op(self, kind):
        if kind != "write":
            return
        t0 = time.perf_counter()
        from dataintegration_ecomprovider_spark.plans import publish

        now = self._files()
        self.store_bytes_written += sum(
            size for p, size in now.items() if self.files_before.get(p) != size)
        self.files_before = now
        usage = publish.store_usage(self.wl.root)
        self.depth.append(max(t["num_deltas"] for t in usage["tables"].values()))
        self.files.append(max(t["num_files"] or 0 for t in usage["tables"].values()))
        self.usage = usage
        self.tracer.bookkeeping_s += time.perf_counter() - t0

    def rollup(self, by_kind, attempted, loop_s):
        import spans

        from dataintegration_ecomprovider_spark.plans import commit_protocol

        t = self.tracer
        per = max(1, attempted)
        writes = by_kind.get("write", {}).get("n", 0)
        reads = by_kind.get("read", {}).get("n", 0)
        m: dict[str, tuple[float, str]] = {}

        def s(name, metric=None, self_time=False):
            m[metric or f"{name}.s"] = (t.total(name, self_time) / per, "s")

        m["session.get_spark.s"] = (
            sum(x.dur for x in t.spans if x.name == "session.get_spark"), "s")
        m["catalog.table.calls"] = (t.calls("catalog.table") / per, "count")
        s("catalog.table")
        s("operators.export_views.build", "operators.export_views.build_s")
        s("operators.export_views.exec", "operators.export_views.exec_s")
        s("sources.load")
        feed = self.wl.feed_bytes
        m["sources.feed_bytes"] = (feed / per, "bytes")
        for name in ("operators.surrogate.high_water_mark",
                     "operators.surrogate.assign_surrogate_ids",
                     "operators.resolve.resolve_cascade"):
            s(name)
        s("pipeline.run_job_on_store", "pipeline.run_job_on_store.self_s", True)
        s("pipeline.run_job")
        s("publish.publish_tables", "publish.publish_tables.self_s", True)
        m["publish.publish_tables.spark_jobs"] = (t.jobs("publish.publish_tables") / per, "count")
        m["publish.write_amp"] = (self.store_bytes_written / feed if feed else 0.0, "ratio")
        wdiv = max(1, writes)
        m["commit_protocol.manifest_reads_per_write"] = (
            t.calls("commit_protocol.read_manifest") / wdiv, "count")
        m["commit_protocol.manifest_swaps_per_write"] = (
            t.calls("commit_protocol.swap_manifest") / wdiv, "count")
        m["commit_protocol.lock_waits"] = (commit_protocol.CONTENTION_STATS["waits"], "count")
        s("publish.maintain_store")
        usage = self.usage
        if usage:
            cur = sum(x["bytes"] or 0 for x in usage["tables"].values())
            m["publish.space_amp"] = ((cur + usage["history_only_bytes"]) / cur if cur else 0.0,
                                      "ratio")
        else:
            m["publish.space_amp"] = (0.0, "ratio")
        s("streaming.stream_into_store", "streaming.stream_into_store.self_s", True)
        s("publish.merge_into_mor", "publish.merge_into_mor.self_s", True)
        s("publish.read_changes")
        s("materialize.refresh_declared_views", "materialize.refresh_declared_views.self_s", True)
        m["materialize.refresh_declared_views.spark_jobs"] = (
            t.jobs("materialize.refresh_declared_views") / per, "count")
        s("llm.search.maintain_text_index")
        s("llm.incremental.maintain_dedup_index")
        modes = [v.get("mode") for x in t.loop_spans("materialize.refresh_declared_views")
                 for v in x.ret["views"].values()]
        m["materialize.delta_ratio"] = (
            sum(1 for x in modes if x == "delta") / len(modes) if modes else 0.0, "ratio")
        s("publish.snapshot")
        s("publish.read_table")
        s("llm.search.bm25_topk.exec", "llm.search.bm25_topk.exec_s")
        s("llm.incremental.match_against_index.exec", "llm.incremental.match_against_index.exec_s")
        m["publish.delta_depth_max"] = (max(self.depth, default=0), "count")
        m["publish.files_per_table_max"] = (max(self.files, default=0), "count")
        s("runtime.release_caches")
        for kind, div in (("write", writes), ("read", reads)):
            ops = t.loop_spans(f"op.{kind}")
            m[f"spark.jobs_per_{kind}"] = (
                sum(o.job1 - o.job0 for o in ops) / div if div else 0.0, "count")
            m[f"spark.tasks_per_{kind}"] = (
                sum(t.tasks(o.job0, o.job1) for o in ops) / div if div else 0.0, "count")
        ops = [x for x in t.spans if x.name.startswith("op.")]
        m["unattributed_s"] = (
            sum(o.dur - spans.covered(o.children) for o in ops) / per, "s")
        for kind in ("write", "read"):
            st = by_kind.get(kind)
            m[f"{kind}_s_p50"] = (st["p50"] if st else 0.0, "s")
            m[f"{kind}_rows_per_s"] = (st["rows_per_s"] if st else 0.0, "1/s")
        m["loop.writes"] = (writes, "count")
        m["loop.reads"] = (reads, "count")
        m["failed_frac"] = (
            sum(st["failed"] for st in by_kind.values()) / per, "ratio")
        m["trace.overhead_s"] = (t.bookkeeping_s / per, "s")
        m["trace.overhead_frac"] = (t.bookkeeping_s / loop_s, "ratio")
        return m


if __name__ == "__main__":
    sys.exit(main())
