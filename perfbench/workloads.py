"""Workload definitions: the runner jobs a pass runs, the output check,
and the layer probes a traced run adds.

Every job goes through ``cc_pyspark_spark.jobs.runner.main`` with the
CLI's defaults except the flags listed in ``flags``.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks

MASTER = "local[4]"
SLOTS = 4


@dataclass
class Workload:
    name: str
    gen_kwargs: dict
    flags: list[str] = field(default_factory=list)

    def jobs(self, inputs: Path, out: Path) -> list[list[str]]:
        """The runner argv of each job of one pass."""
        common = ["--spark_master", MASTER, *self.flags]
        if self.name == "crawl_to_docs":
            return [["warc_to_documents", str(inputs / "manifest.txt"), str(out / "docs"),
                     *common]]
        if self.name == "host_graph":
            edges = str(inputs / "edges.parquet")
            return [
                ["graph_analyze", edges, str(out / "pagerank"), "--graph_algo", "pagerank",
                 "--graph_rounds", str(self.gen_kwargs["rounds"]), *common],
                ["graph_analyze", edges, str(out / "lpa"), "--graph_algo", "lpa_converged",
                 *common],
            ]
        return [["dedup_documents", str(inputs / "docs.parquet"), str(out / "survivors"),
                 "--dedup_method", "cluster", *common]]

    def check(self, inputs: Path, out: Path, job_lines: list[dict]) -> list[str]:
        if self.name == "crawl_to_docs":
            return checks.check_crawl(out / "docs", inputs, job_lines[0])
        if self.name == "host_graph":
            return checks.check_graph(out / "pagerank", out / "lpa", inputs)
        return checks.check_dedup(out / "survivors", inputs)


WORKLOADS = {
    "crawl_to_docs": Workload("crawl_to_docs", {"n_html": 250, "n_files": 24},
                              ["--num_input_partitions", "8"]),
    "host_graph": Workload("host_graph", {"n_vertices": 3000, "n_edges": 15_000, "rounds": 2,
                                          "lpa_rounds": 8}),
    "doc_dedup": Workload("doc_dedup", {"n_docs": 4000, "hot_size": 80}),
}


# ------------------------------------------------------- traced-run probes

#: Each prefix probe is timed this many times; the median is kept.
PROBE_REPS = 2


def _timed(fn) -> float:
    """Median wall time of ``PROBE_REPS`` calls."""
    times = []
    for _ in range(PROBE_REPS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _stubbed(stubs):
    """Replace each ``(module, attr)`` with a stand-in for the duration."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in stubs]
    try:
        for mod, attr, fn in stubs:
            setattr(mod, attr, fn)
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def crawl_layer_probes(spark, runner, inputs: Path, flags: list[str],
                       output_rows: int) -> dict[str, float]:
    """Decode without Spark, a scan to a noop sink, and the job's own
    pipeline (``runner.JOBS["warc_to_documents"]``) cut after each
    layer and run to a noop sink. A cut replaces the layers above it
    with stand-ins (literal columns, identity text), from the top down:
    the id assignment always, then text scoring, then HTML-to-text,
    then the payload decode. Each layer's time is what it adds over the
    cut below it. The uncut pipeline must produce the job's row count,
    so a job that no longer calls these functions fails here."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from cc_pyspark_spark.functions import encoding, html, text  # noqa: PLC0415
    from cc_pyspark_spark.operators import ids  # noqa: PLC0415
    from cc_pyspark_spark.plans import text as plans_text  # noqa: PLC0415
    from cc_pyspark_spark.sources.warc import WarcMetrics  # noqa: PLC0415
    from cc_pyspark_spark.sources.warcio_lite import iter_warc_records  # noqa: PLC0415

    manifest = inputs / "manifest.txt"
    paths = [p for p in manifest.read_text().split("\n") if p]
    t = time.perf_counter()
    for p in paths:
        with open(p, "rb") as f:
            for _ in iter_warc_records(f):
                pass
    decode_s = time.perf_counter() - t
    mb = sum(Path(p).stat().st_size for p in paths) / 2**20

    nip = int(flags[flags.index("--num_input_partitions") + 1])
    metrics = WarcMetrics(spark)
    t = time.perf_counter()
    _noop(runner.warc_records(spark, str(manifest), num_input_partitions=nip, metrics=metrics))
    scan_s = time.perf_counter() - t

    job = runner.JOBS["warc_to_documents"][0]
    cuts = [
        (ids, "assign_sequential_ids", lambda df, _cols, id_col="id", **_: df.withColumn(
            id_col, F.lit(0).cast("long"))),
        (text, "tokenize", lambda _c: F.array()),
        (plans_text, "lang_id_col", lambda _c: F.lit("")),
        (plans_text, "quality_ok_col", lambda _c: F.lit(1)),
        (html, "html_backend", lambda _name="regex": F.col),
        (encoding, "decode_payload", lambda payload, _charset: payload),
    ]

    def prefix(n_cut: int):
        with _stubbed(cuts[:n_cut]):
            # With tokenize cut, the token gate must not drop rows.
            return job(runner.warc_records(spark, str(manifest), num_input_partitions=nip),
                       **({"min_tokens": 0} if n_cut > 1 else {}))

    full = prefix(1)
    rows = full.count()
    if rows != output_rows:
        raise RuntimeError(f"layer probe pipeline gives {rows} rows, the job wrote "
                           f"{output_rows}: the probes no longer match the job")
    t3, t2, t1, t0 = (_timed(lambda d=prefix(n): _noop(d)) for n in (1, 4, 5, 6))
    return {
        "sources.decode_s": decode_s,
        "sources.decode_mb_per_s": mb / decode_s,
        "sources.scan_s": scan_s,
        "sources.records": metrics.records_processed.value,
        "sources.files_failed": metrics.files_failed.value,
        "functions.decode_payload_s": t1 - t0,
        "functions.html_to_text_s": t2 - t1,
        "plans.text_scoring_s": t3 - t2,
        "_filter_s": t0,
    }
