"""Output checks: each returns a list of problems (empty = the pass is
correct). They read the job's output with pyarrow and compare it with
the ground truth the generator recorded."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

#: operators.dedup.LSH_DEFAULT_BUCKET_CAP, restated here so the check
#: does not depend on the program: a cluster larger than the cap is
#: salted into sub-buckets of at most this many documents, and pairs
#: across sub-buckets are given up by design.
LSH_BUCKET_CAP = 64
#: PageRank ranks may differ from the reference by at most this much.
RANK_TOL = 1e-9


def _read(path: Path):
    return pq.read_table(path).to_pandas()


def check_crawl(out: Path, inputs: Path, job_line: dict) -> list[str]:
    got = _read(out).sort_values("url", kind="stable").reset_index(drop=True)
    truth = _read(inputs / "truth.parquet").sort_values("url", kind="stable").reset_index(drop=True)
    problems = []
    if job_line.get("files_failed", 0) != 0:
        problems.append(f"files_failed = {job_line.get('files_failed')}")
    if len(got) != len(truth) or not (got["url"].values == truth["url"].values).all():
        missing = set(truth["url"]) - set(got["url"])
        extra = set(got["url"]) - set(truth["url"])
        problems.append(f"url set differs: {len(missing)} missing, {len(extra)} extra, "
                        f"{len(got)} rows for {len(truth)} expected")
        return problems
    bad_text = int((got["text"].values != truth["text"].values).sum())
    if bad_text:
        problems.append(f"{bad_text} documents with wrong text")
    # doc_id is dense 1..N in (url, text) order, and urls are unique.
    if not (got["doc_id"].values == np.arange(1, len(got) + 1)).all():
        problems.append("doc_id is not dense 1..N in url order")
    return problems


def check_graph(out_pagerank: Path, out_lpa: Path, inputs: Path) -> list[str]:
    problems = []
    pr = _read(out_pagerank).sort_values("id").reset_index(drop=True)
    want = _read(inputs / "truth_pagerank.parquet").sort_values("id").reset_index(drop=True)
    if len(pr) != len(want) or not (pr["id"].values == want["id"].values).all():
        problems.append(f"pagerank vertex set differs ({len(pr)} vs {len(want)})")
    else:
        total = float(pr["rank"].sum())
        if abs(total - 1.0) > RANK_TOL:
            problems.append(f"pagerank ranks sum to {total!r}")
        err = float(np.max(np.abs(pr["rank"].values - want["rank"].values)))
        if err > RANK_TOL:
            problems.append(f"pagerank differs from the power iteration by {err:.3e}")
    lpa = _read(out_lpa).sort_values("id").reset_index(drop=True)
    want = _read(inputs / "truth_lpa.parquet").sort_values("id").reset_index(drop=True)
    if len(lpa) != len(want) or not (lpa["id"].values == want["id"].values).all():
        problems.append(f"lpa vertex set differs ({len(lpa)} vs {len(want)})")
    else:
        bad = int((lpa["community"].values != want["community"].values).sum())
        if bad:
            problems.append(f"{bad} lpa labels differ from the reference rule")
    return problems


def check_dedup(out: Path, inputs: Path) -> list[str]:
    got = _read(out)
    truth = _read(inputs / "truth_clusters.parquet")
    problems = []
    if got["doc_id"].duplicated().any():
        problems.append("a doc_id appears more than once")
    if set(got["doc_id"]) != set(truth["doc_id"]):
        problems.append(f"doc_id set differs ({len(got)} rows for {len(truth)} docs)")
        return problems
    m = truth.merge(got, on="doc_id")
    if not ((m["keep_id"] == m["doc_id"]).astype(int) == m["is_canonical"]).all():
        problems.append("is_canonical disagrees with keep_id == doc_id")
    lone = m[m["cluster"] < 0]
    if not (lone["keep_id"] == lone["doc_id"]).all():
        problems.append(f"{int((lone['keep_id'] != lone['doc_id']).sum())} unrelated docs merged")
    by_keep = m.groupby("keep_id")
    mixed = int((by_keep["cluster"].nunique() > 1).sum())
    if mixed:
        problems.append(f"{mixed} survivors keep docs of more than one cluster")
    # A survivor is the smallest id of the component it keeps.
    if not (by_keep["doc_id"].min().index.values == by_keep["doc_id"].min().values).all():
        problems.append("a keep_id is not the smallest doc_id of its component")
    planted = m[m["cluster"] >= 0].groupby("cluster")
    size, survivors = planted.size(), planted["keep_id"].nunique()
    limit = np.where(size <= LSH_BUCKET_CAP, 1, np.ceil(size / LSH_BUCKET_CAP))
    split = survivors[survivors.values > limit]
    if len(split):
        problems.append(f"{len(split)} planted clusters did not collapse, e.g. cluster "
                        f"{split.index[0]} of {size[split.index[0]]} docs into {split.iloc[0]}")
    return problems
