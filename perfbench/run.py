"""Benchmark of the CLI job runner, end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_to_docs --seed 1 --seconds 10 --trace 0

Run from the repository root. One process builds one Spark session
(``local[4]``, 2 GB driver heap) and calls
``cc_pyspark_spark.jobs.runner.main([...])`` in-process once per job:
a cold pass first, then one warm-up pass, then measured warm passes
until ``--seconds`` of them have run (at least three). Inputs are
generated from ``--seed`` into ``.perfbench/inputs`` and reused by
later runs with the same seed.
Every pass's output is checked against the generator's ground truth.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
per-layer metrics from one untraced and one traced warm pass (after
the cold and warm-up passes) plus the
workload's layer probes, and writes the spans to ``.perfbench/trace``.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import gen
import procstat
from spans import Tracer, patched
from workloads import MASTER, SLOTS, WORKLOADS, crawl_layer_probes

#: Process start on the perf_counter clock (set-up is timed from here).
T_START = time.perf_counter() - procstat.process_age_s()
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "items_per_s": "items/s",
    "cpu_s": "s", "peak_rss_mb": "MB", "ok_ratio": "1",
}
PER_LAYER = {
    "session.build_s": "s",
    "sources.decode_s": "s", "sources.decode_mb_per_s": "MB/s", "sources.scan_s": "s",
    "sources.records": "count", "sources.files_failed": "count",
    "functions.decode_payload_s": "s", "functions.html_to_text_s": "s",
    "plans.text_scoring_s": "s",
    "operators.assign_ids_s": "s", "operators.pagerank_s": "s", "operators.lpa_s": "s",
    "operators.plan_nodes": "count",
    "jobs.write_s": "s", "jobs.output_mb": "MB", "jobs.output_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_residue_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.slot_busy_ratio": "1", "spark.max_task_skew": "1",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "caching.leaked": "count",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_ratio": "1",
}
#: Layer metrics of doc_dedup only, which BENCHMARK.json does not run;
#: a traced doc_dedup run writes them to its trace file.
DEDUP_LAYER = ("operators.minhash_pairs_s", "operators.survivors_s", "operators.pairs")
#: Warm passes run after the cold pass and before the measured ones:
#: the JIT keeps making passes faster for the first few.
WARMUP_PASSES = 1


def _environment() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and pin the driver heap: a fixed, pre-touched 2 GB instead of the
    package's 8 GB maximum, whose resident part grows with GC timing
    and made peak RSS bimodal between runs."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch").strip()
    sys.path.insert(0, str(ROOT))


@dataclass
class Pass:
    ok: bool
    wall: float
    cpu: float
    lines: list[dict]


def _job_line(text: str) -> dict:
    for line in reversed(text.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return {}


class Bench:
    def __init__(self, workload: str, seed: int):
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.out = WORK / "out" / workload
        self.pid = os.getpid()

    def setup(self) -> float:
        from cc_pyspark_spark.jobs import runner  # noqa: PLC0415

        self.runner = runner
        t = time.perf_counter()
        self.spark = runner.build_session(app_name="perfbench", master=MASTER)
        self.build_s = time.perf_counter() - t
        self.spark.range(1).count()
        return time.perf_counter() - T_START

    def inputs(self) -> dict:
        self.inp, info = gen.ensure_inputs(
            WORK / "inputs", self.wl.name, self.seed, **self.wl.gen_kwargs)
        return info

    def run_pass(self) -> tuple[float, float, list[dict]]:
        """(wall s, process-tree CPU s, job JSON lines) of one pass."""
        shutil.rmtree(self.out, ignore_errors=True)
        lines = []
        c0 = procstat.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        for argv in self.wl.jobs(self.inp, self.out):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = self.runner.main(argv)
            if rc != 0:
                raise RuntimeError(f"{argv[0]} returned {rc}")
            lines.append(_job_line(buf.getvalue()))
        wall = time.perf_counter() - t0
        return wall, procstat.tree_cpu_s(self.pid) - c0, lines

    def checked_pass(self, log) -> Pass:
        """One pass and its output check. A pass that raises or writes
        a wrong output counts as failed."""
        t = time.perf_counter()
        try:
            wall, cpu, lines = self.run_pass()
            problems = self.wl.check(self.inp, self.out, lines)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, not fatal
            log(f"pass raised {type(e).__name__}: {str(e)[:500]}")
            return Pass(False, time.perf_counter() - t, 0.0, [])
        if problems:
            log("wrong output: " + "; ".join(problems))
        else:
            log(f"pass {wall:.2f} s, cpu {cpu:.2f} s")
        return Pass(not problems, wall, cpu, lines)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every descendant."""
        from pyspark import SparkContext  # noqa: PLC0415

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while len(procstat.tree_pids(self.pid)) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in procstat.tree_pids(self.pid)[1:]:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


def _output_stats(out: Path) -> tuple[float, int]:
    import pyarrow.parquet as pq  # noqa: PLC0415

    files = [p for p in out.rglob("*") if p.is_file()]
    rows = sum(pq.read_metadata(p).num_rows for p in files if p.suffix == ".parquet")
    return sum(p.stat().st_size for p in files) / 2**20, rows


def _plan_nodes(df) -> int:
    """Node count of the physical plan Spark chose for ``df``."""
    jvm = df.sparkSession.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    todo, n = [df._jdf.queryExecution().sparkPlan()], 0
    while todo:
        node = todo.pop()
        n += 1
        todo.extend(conv.asJava(node.children()))
    return n


def end_to_end(b: Bench, seconds: float, log) -> tuple[dict, int, int]:
    info = b.inputs()
    cold = b.checked_pass(log)
    warmup = [b.checked_pass(log) for _ in range(WARMUP_PASSES)]
    warm = []
    while sum(r.wall for r in warm) < seconds or len(warm) < 3:
        warm.append(b.checked_pass(log))
    good = [r for r in warm if r.ok] or warm
    pass_s = statistics.median(r.wall for r in good)
    every = [cold, *warmup, *warm]
    ok = sum(r.ok for r in every)
    metrics = {
        "cold_pass_s": cold.wall,
        "pass_s": pass_s,
        "items_per_s": info["items"] / pass_s,
        "cpu_s": statistics.median(r.cpu for r in good),
        "ok_ratio": ok / len(every),
    }
    return metrics, len(every), len(every) - ok


def per_layer(b: Bench, log) -> tuple[dict, int, int, dict]:
    from cc_pyspark_spark import caching  # noqa: PLC0415
    from cc_pyspark_spark.operators import community, dedup, ids, pagerank  # noqa: PLC0415
    from sparkstat import StatusStore  # noqa: PLC0415

    b.inputs()
    m = {k: 0.0 for k in [*PER_LAYER, *DEDUP_LAYER]}
    m["session.build_s"] = b.build_s
    # cold, warm-up, and the untraced warm pass the traced one is compared with
    results = [b.checked_pass(log) for _ in range(2 + WARMUP_PASSES)]
    tracer = Tracer()
    store = StatusStore(b.spark)
    plan_nodes, captured = [], {}

    def count_plan(key):
        def hook(df):
            with tracer.span("trace.plan_nodes"):
                plan_nodes.append(_plan_nodes(df))
            captured[key] = df
        return hook

    targets = [
        (b.runner, "build_session", "session.build", None),
        (b.runner, "warc_records", "sources.warc_records", None),
        (b.runner, "write_output", "jobs.write", None),
        (caching, "release_caches", "caching.release", None),
        (ids, "assign_sequential_ids", "operators.assign_ids", count_plan("ids")),
        (pagerank, "pagerank", "operators.pagerank", count_plan("pagerank")),
        (community, "lpa_converged", "operators.lpa", count_plan("lpa")),
        (dedup, "minhash_lsh_pairs", "operators.minhash_pairs", count_plan("pairs")),
        (dedup, "canonical_survivors", "operators.survivors", count_plan("survivors")),
    ]
    tracer.pass_no = 1
    since = store.snapshot()
    w0 = time.time()
    with patched(tracer, targets), tracer.span("jobs.pass"):
        r = b.checked_pass(log)
    w1 = time.time()
    results.append(r)
    m.update(store.diff(since, w0, w1, SLOTS))
    sc = b.spark.sparkContext
    m["caching.leaked"] = caching.tracked_count() + sc._jsc.getPersistentRDDs().size()
    m["jobs.output_mb"], m["jobs.output_rows"] = _output_stats(b.out)
    for name in ("operators.assign_ids", "operators.pagerank", "operators.lpa",
                 "operators.minhash_pairs", "operators.survivors", "jobs.write"):
        m[name + "_s"] = tracer.total(name, 1)
    m["operators.plan_nodes"] = sum(plan_nodes)
    if "pairs" in captured:
        m["operators.pairs"] = captured["pairs"].count()
        caching.release_caches()
    untraced = results[-2].wall
    m["trace.untraced_pass_s"] = untraced
    m["trace.pass_s"] = r.wall
    m["trace.overhead_ratio"] = r.wall / untraced
    # Self times of the traced spans, as measured: the id-assignment
    # span also holds the scans, decode and scoring its actions execute.
    extra = {"self_s": tracer.self_by_name(1)}
    if b.wl.name == "crawl_to_docs":
        probes = crawl_layer_probes(b.spark, b.runner, b.inp, b.wl.flags,
                                    r.lines[0]["output_rows"])
        m.update({k: v for k, v in probes.items() if k in PER_LAYER})
        extra["probe_increments_s"] = {
            "sources.scan_and_filter_s": probes["_filter_s"],
            **{k: probes[k] for k in ("functions.decode_payload_s",
                                      "functions.html_to_text_s", "plans.text_scoring_s")}}
    if b.wl.name == "doc_dedup":
        extra["workload_only"] = {k: m[k] for k in DEDUP_LAYER}
    extra["spans"] = tracer.to_json()
    ok = sum(x.ok for x in results)
    return m, len(results), len(results) - ok, extra


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "cc_pyspark_spark" / "jobs" / "runner.py").is_file():
        print("perfbench: run from the repository root (cc_pyspark_spark/ not found)",
              file=sys.stderr)
        return 2
    _environment()

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload} s{args.seed}] {msg}", file=sys.stderr, flush=True)

    b = Bench(args.workload, args.seed)
    with procstat.RssSampler(os.getpid()) as rss:
        try:
            setup_s = b.setup()
            log(f"setup {setup_s:.2f} s")
            if args.trace:
                metrics, attempted, failed, extra = per_layer(b, log)
            else:
                metrics, attempted, failed = end_to_end(b, args.seconds, log)
                metrics["setup_s"] = setup_s
        finally:
            b.close()
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
    if args.trace:
        tdir = WORK / "trace"
        tdir.mkdir(parents=True, exist_ok=True)
        (tdir / f"{args.workload}-s{args.seed}.json").write_text(
            json.dumps({"metrics": metrics, **extra}, indent=1))
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
