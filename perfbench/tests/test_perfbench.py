"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from sparkstat import union_length  # noqa: E402
from workloads import Workload  # noqa: E402

SMALL = {
    "crawl_to_docs": {"n_html": 40, "n_files": 3},
    "host_graph": {"n_vertices": 300, "n_edges": 1200, "rounds": 3, "lpa_rounds": 8},
    "doc_dedup": {"n_docs": 400, "hot_size": 70},
}


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes(tmp_path, workload):
    a, _ = gen.ensure_inputs(tmp_path / "a", workload, 7, **SMALL[workload])
    b, _ = gen.ensure_inputs(tmp_path / "b", workload, 7, **SMALL[workload])
    c, _ = gen.ensure_inputs(tmp_path / "c", workload, 8, **SMALL[workload])
    fa, fb, fc = _files(a), _files(b), _files(c)
    # The manifest names its own directory; every other file is compared.
    fa.pop("manifest.txt", None), fb.pop("manifest.txt", None), fc.pop("manifest.txt", None)
    assert fa == fb
    assert fa.keys() == fc.keys() and fa != fc


def test_cached_inputs_regenerate_when_sizes_change(tmp_path):
    d, info = gen.ensure_inputs(tmp_path, "host_graph", 1, **SMALL["host_graph"])
    again, info2 = gen.ensure_inputs(tmp_path, "host_graph", 1, **SMALL["host_graph"])
    assert again == d and info2 == info
    _, info3 = gen.ensure_inputs(tmp_path, "host_graph", 1, **{**SMALL["host_graph"], "n_edges": 800})
    assert info3["items"] == 800


def test_crawl_ground_truth_excludes_non_html(tmp_path):
    d, info = gen.ensure_inputs(tmp_path, "crawl_to_docs", 3, **SMALL["crawl_to_docs"])
    truth = pq.read_table(d / "truth.parquet").to_pandas()
    assert len(truth) == info["html"] == 40
    assert truth["url"].is_unique
    assert not truth["text"].str.contains("<|hidden|document.title|&amp;").any()


# ------------------------------------------------------------ spans


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(n, a, b, p, 1) for n, a, b, p in spans]
    return t


def test_self_time_subtracts_children_union():
    t = _tracer([
        ("root", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("b", 3.0, 6.0, 0),  # overlaps a: the union is 1..6
        ("c", 2.0, 3.0, 1),  # grandchild: counts against a, not root
    ])
    assert t.self_times() == pytest.approx([5.0, 2.0, 3.0, 1.0])
    assert t.self_by_name() == pytest.approx({"root": 5.0, "a": 2.0, "b": 3.0, "c": 1.0})
    assert t.total("a") == pytest.approx(3.0)


def test_self_time_clips_children_to_parent():
    t = _tracer([("root", 0.0, 2.0, None), ("late", 1.5, 3.0, 0)])
    assert t.self_times()[0] == pytest.approx(1.5)


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)


def test_spans_nest_through_patched_calls():
    import types

    from spans import patched

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = Tracer()
    seen = []
    with patched(t, [(mod, "f", "layer.f", seen.append)]), t.span("root"):
        assert mod.f(1) == 2
    assert [s.name for s in t.spans] == ["root", "layer.f"]
    assert t.spans[1].parent == 0 and seen == [2]
    assert mod.f(1) == 2 and len(t.spans) == 2  # restored


# ------------------------------------------------------------ references


def _pagerank_loops(s, t, rounds, d=0.85):
    ids = sorted(set(s) | set(t))
    n = len(ids)
    out = Counter(s)
    r = {v: 1.0 / n for v in ids}
    for _ in range(rounds):
        dang = sum(r[v] for v in ids if out[v] == 0)
        nxt = {v: 0.0 for v in ids}
        for u, v in zip(s, t):
            nxt[v] += r[u] / out[u]
        r = {v: (1 - d) / n + d * (nxt[v] + dang / n) for v in ids}
    return ids, [r[v] for v in ids]


def _lpa_loops(a, b, max_rounds=64):
    ids = sorted(set(a) | set(b))
    nbrs = {v: [v] for v in ids}
    for x, y in zip(a, b):
        nbrs[x].append(y)
        nbrs[y].append(x)
    lab, prev2 = {v: v for v in ids}, None
    for _ in range(max_rounds):
        nxt = {}
        for v in ids:
            c = Counter(lab[u] for u in nbrs[v])
            nxt[v] = min(c, key=lambda k: (-c[k], k))
        if nxt == lab:
            return ids, [nxt[v] for v in ids]
        if prev2 == nxt:
            return ids, [min(nxt[v], lab[v]) for v in ids]
        prev2, lab = lab, nxt
    raise RuntimeError("no convergence")


def test_numpy_references_match_plain_loops():
    rng = np.random.default_rng(5)
    for _ in range(5):
        s = rng.integers(0, 40, 150)
        t = rng.integers(0, 40, 150)
        keep = s != t
        s, t = s[keep], t[keep]
        ids, ranks = gen.pagerank_reference(s, t, 6)
        ids2, ranks2 = _pagerank_loops(s.tolist(), t.tolist(), 6)
        assert ids.tolist() == ids2
        assert np.allclose(ranks, ranks2, rtol=0, atol=1e-12)
        canon = np.unique(np.stack([np.minimum(s, t), np.maximum(s, t)], 1), axis=0)
        lids, labels, _ = gen.lpa_reference(canon[:, 0], canon[:, 1])
        lids2, labels2 = _lpa_loops(canon[:, 0].tolist(), canon[:, 1].tolist())
        assert lids.tolist() == lids2 and labels.tolist() == labels2


# ------------------------------------------------------------ checks


def _write(df_dict: dict, d: Path) -> Path:
    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(df_dict), d / "part-0.parquet")
    return d


def _crawl_output(inputs: Path, out: Path, drop: int = 0, bad_text: bool = False) -> Path:
    truth = pq.read_table(inputs / "truth.parquet").to_pandas().sort_values("url")
    truth = truth.iloc[drop:]
    text = truth["text"].tolist()
    if bad_text:
        text[0] = text[0] + " extra"
    return _write({"doc_id": np.arange(1, len(truth) + 1), "url": truth["url"].tolist(),
                   "text": text}, out)


def test_crawl_check(tmp_path):
    d, _ = gen.ensure_inputs(tmp_path / "in", "crawl_to_docs", 1, **SMALL["crawl_to_docs"])
    line = {"files_failed": 0}
    assert checks.check_crawl(_crawl_output(d, tmp_path / "ok"), d, line) == []
    assert checks.check_crawl(_crawl_output(d, tmp_path / "drop", drop=1), d, line)
    assert checks.check_crawl(_crawl_output(d, tmp_path / "text", bad_text=True), d, line)
    assert checks.check_crawl(_crawl_output(d, tmp_path / "ok"), d, {"files_failed": 1})


def _graph_output(inputs: Path, out: Path, rank_eps: float = 0.0, flip_label: bool = False):
    pr = pq.read_table(inputs / "truth_pagerank.parquet").to_pandas()
    pr.loc[0, "rank"] += rank_eps
    lpa = pq.read_table(inputs / "truth_lpa.parquet").to_pandas()
    if flip_label:
        lpa.loc[0, "community"] = lpa["community"].max() + 1
    _write({"id": pr["id"], "rank": pr["rank"]}, out / "pagerank")
    _write({"id": lpa["id"], "community": lpa["community"]}, out / "lpa")
    return out


def test_graph_check(tmp_path):
    d, _ = gen.ensure_inputs(tmp_path / "in", "host_graph", 1, **SMALL["host_graph"])

    def problems(out):
        return checks.check_graph(out / "pagerank", out / "lpa", d)

    assert problems(_graph_output(d, tmp_path / "ok")) == []
    assert problems(_graph_output(d, tmp_path / "rank", rank_eps=1e-6))
    assert problems(_graph_output(d, tmp_path / "lpa", flip_label=True))


def _dedup_output(inputs: Path, out: Path, drop: bool = False, merge: bool = False,
                  split: bool = False) -> Path:
    t = pq.read_table(inputs / "truth_clusters.parquet").to_pandas()
    keep = t.groupby("cluster")["doc_id"].transform("min")
    keep = keep.where(t["cluster"] >= 0, t["doc_id"])
    if merge:  # two unrelated base docs end up in one component
        lone = t.index[t["cluster"] < 0][:2]
        keep[lone] = t.loc[lone, "doc_id"].min()
    if split:  # one member of a small planted cluster keeps itself
        small = t[t["cluster"] == 1]
        j = small.index[small["doc_id"] != small["doc_id"].min()][0]
        keep[j] = t.loc[j, "doc_id"]
    t = t.assign(keep_id=keep, is_canonical=(keep == t["doc_id"]).astype("int32"))
    if drop:
        t = t.iloc[1:]
    return _write({c: t[c].tolist() for c in ("doc_id", "keep_id", "is_canonical")}, out)


def test_dedup_check(tmp_path):
    d, _ = gen.ensure_inputs(tmp_path / "in", "doc_dedup", 1, **SMALL["doc_dedup"])
    assert checks.check_dedup(_dedup_output(d, tmp_path / "ok"), d) == []
    assert checks.check_dedup(_dedup_output(d, tmp_path / "drop", drop=True), d)
    assert checks.check_dedup(_dedup_output(d, tmp_path / "merge", merge=True), d)
    assert checks.check_dedup(_dedup_output(d, tmp_path / "split", split=True), d)


def test_hot_cluster_may_split_by_salt_only(tmp_path):
    d, _ = gen.ensure_inputs(tmp_path / "in", "doc_dedup", 1, **SMALL["doc_dedup"])
    t = pq.read_table(d / "truth_clusters.parquet").to_pandas()
    hot = t[t["cluster"] == 0].sort_values("doc_id")
    assert len(hot) > checks.LSH_BUCKET_CAP
    keep = t.groupby("cluster")["doc_id"].transform("min").where(t["cluster"] >= 0, t["doc_id"])
    second = hot.index[checks.LSH_BUCKET_CAP:]  # the second salt sub-bucket
    keep[second] = hot.loc[second, "doc_id"].min()
    t = t.assign(keep_id=keep, is_canonical=(keep == t["doc_id"]).astype("int32"))
    out = _write({c: t[c].tolist() for c in ("doc_id", "keep_id", "is_canonical")},
                 tmp_path / "salted")
    assert checks.check_dedup(out, d) == []


# ------------------------------------------------------------ ok_ratio


def test_corrupted_pass_lowers_ok_ratio(tmp_path, monkeypatch):
    """A perturbed rank in one of five passes (cold, warm-up, three
    measured) gives ok_ratio = 4/5."""
    monkeypatch.setattr(run, "WORK", tmp_path)
    b = run.Bench("host_graph", 1)
    b.wl = Workload("host_graph", SMALL["host_graph"])
    eps = iter([0.0, 0.0, 1e-6, 0.0, 0.0])

    def fake_pass():
        _graph_output(b.inp, b.out, rank_eps=next(eps))
        return 1.0, 1.0, [{}]

    b.run_pass = fake_pass
    metrics, attempted, failed = run.end_to_end(b, 0.0, lambda msg: None)
    assert (attempted, failed) == (5, 1)
    assert metrics["ok_ratio"] == pytest.approx(4 / 5)
