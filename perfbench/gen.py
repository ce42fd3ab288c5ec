"""Seeded input generators for the benchmark workloads.

Independent of the package under test: WARC bytes are written here
(one gzip member per record) and tables are written with pyarrow, so no
change to ``cc_pyspark_spark`` can change an input. Each generator
writes one workload's inputs into a directory and records the ground
truth the output checks compare against.

The same seed gives byte-identical files (gzip headers carry no
timestamp, and every random draw comes from one seeded generator).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever a generator's output changes, so a cached input
#: directory from an older generator is never reused.
GEN_VERSION = 1

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
#: Latin-1 letters from 0xE0-0xFF: as UTF-8 lead bytes followed by an
#: ASCII byte they never form valid UTF-8, so a latin-1 page always
#: falls through to its declared charset.
_LATIN1_LETTERS = [chr(c) for c in range(0xE0, 0x100) if c not in (0xF7,)]


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _vocab(rng: np.random.Generator, n: int, latin1: bool = False) -> list[str]:
    """n distinct lowercase words of 2-10 letters."""
    words: dict[str, None] = {}
    while len(words) < n:
        ln = int(rng.integers(2, 11))
        w = "".join(rng.choice(_LETTERS, ln))
        if latin1:
            pos = int(rng.integers(0, ln))
            w = w[:pos] + _LATIN1_LETTERS[int(rng.integers(len(_LATIN1_LETTERS)))] + w[pos:]
        words[w] = None
    return list(words)


# --------------------------------------------------------------- crawl


def _gz(record: bytes) -> bytes:
    # mtime=0 keeps the member header timestamp-free: same seed, same bytes.
    return gzip.compress(record, compresslevel=6, mtime=0)


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(block)}\r\n\r\n"
    return head.encode() + block + b"\r\n\r\n"


def _http_block(status: int, headers: list[tuple[str, str]], body: bytes) -> bytes:
    reason = {200: "OK", 301: "Moved Permanently", 302: "Found"}[status]
    lines = [f"HTTP/1.1 {status} {reason}"]
    lines += [f"{k}: {v}" for k, v in headers]
    lines.append(f"Content-Length: {len(body)}")
    return ("\r\n".join(lines) + "\r\n\r\n").encode("latin-1") + body


def _html_page(rng, words, n_words: int, charset_meta: str | None) -> tuple[str, str]:
    """(html, expected extracted text). Visible words go into <title>
    and block elements; script, style and comments carry words that
    must not appear in the extracted text."""
    idx = rng.integers(0, len(words), n_words)
    vis = [words[i] for i in idx]
    # A literal "&amp;" renders as "&": one visible token of its own.
    for p in rng.integers(0, n_words, max(1, n_words // 200)):
        vis[int(p)] = "&amp;"
    n_title = min(6, n_words)
    title, body = vis[:n_title], vis[n_title:]
    blocks: list[str] = []
    pos = 0
    while pos < len(body):
        k = int(rng.integers(20, 120))
        tag = ("p", "div", "li", "h2", "span")[int(rng.integers(0, 5))]
        blocks.append(f"<{tag} class=\"c{int(rng.integers(0, 9))}\">"
                      + " ".join(body[pos:pos + k]) + f"</{tag}>")
        pos += k
        if rng.random() < 0.15:
            blocks.append("<!-- hidden <b>" + words[int(rng.integers(len(words)))]
                          + "</b> note -->")
    meta = f'<meta charset="{charset_meta}">' if charset_meta else ""
    script = ("<script type=\"text/javascript\">var x = 1 < 2 && 3 > 2; "
              f"document.title = '{words[int(rng.integers(len(words)))]}';</script>")
    style = "<style>p > span { color: red; } .c1 { margin: 0 }</style>"
    html = (
        "<!DOCTYPE html>\n<html><head>" + meta + "<title>" + " ".join(title)
        + "</title>\n" + style + "\n" + script + "</head>\n<body>\n"
        + "\n".join(blocks) + "\n</body></html>\n"
    )
    text = " ".join(title + body).replace("&amp;", "&")
    return html, text


def gen_crawl(out: Path, seed: int, n_html: int, n_files: int) -> dict:
    """WARC files of HTML responses (utf-8, latin-1 with declared
    charset, ASCII with no charset), redirects with empty bodies,
    non-HTML responses, and request / metadata / warcinfo records."""
    rng = _rng(seed, 1)
    words = _vocab(rng, 4000)
    latin_words = _vocab(rng, 400, latin1=True)
    utf8_words = words[:3000] + ["naïve", "café", "日本語", "привет", "straße"]
    n_redirect = int(n_html * 0.11)
    n_other = int(n_html * 0.17)
    kinds = np.array(["html"] * n_html + ["redirect"] * n_redirect + ["other"] * n_other)
    rng.shuffle(kinds)
    # Payload sizes and charset flavours are stratified: every seed gets
    # the same multiset (log-normal quantiles, median 8 KB, capped at
    # 200 KB) in a different order, so the work per pass does not vary
    # with the seed.
    z = [NormalDist().inv_cdf((i + 0.5) / n_html) for i in range(n_html)]
    sizes = rng.permutation(np.clip(np.exp(np.log(8000) + 0.9 * np.array(z)), 600, 200_000))
    n_latin, n_ascii = int(n_html * 0.15), int(n_html * 0.15)
    flavours = rng.permutation(
        ["latin1"] * n_latin + ["ascii"] * n_ascii + ["utf8"] * (n_html - n_latin - n_ascii))
    files: list[list[bytes]] = [[] for _ in range(n_files)]
    file_bytes = [0] * n_files
    truth_url, truth_text = [], []
    warc_dir = out / "warc"
    warc_dir.mkdir(parents=True, exist_ok=True)
    for f in range(n_files):
        files[f].append(_gz(_warc_record(
            [("WARC-Type", "warcinfo"), ("WARC-Date", "2024-01-01T00:00:00Z"),
             ("WARC-Record-ID", f"<urn:uuid:info-{seed}-{f}>"),
             ("Content-Type", "application/warc-fields")],
            f"software: perfbench-gen\r\nformat: WARC 1.0\r\nseed: {seed}\r\n".encode(),
        )))
    for i, kind in enumerate(kinds):
        host = f"host{int(rng.integers(0, 300))}.example{('.com', '.org', '.net', '.de')[i % 4]}"
        url = f"http://{host}/p/{i:06d}/{words[int(rng.integers(len(words)))]}.html"
        date = f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00Z"
        req = _warc_record(
            [("WARC-Type", "request"), ("WARC-Target-URI", url), ("WARC-Date", date),
             ("WARC-Record-ID", f"<urn:uuid:req-{seed}-{i}>"),
             ("Content-Type", "application/http; msgtype=request")],
            f"GET /p/{i:06d} HTTP/1.1\r\nHost: {host}\r\nUser-Agent: bench\r\n\r\n".encode(),
        )
        if kind == "html":
            k = len(truth_url)
            n_words = max(30, int(sizes[k] / 7.5))
            if flavours[k] == "latin1":  # latin-1 with declared charset
                vocab = words[:2500] + latin_words
                html, text = _html_page(rng, vocab, n_words, None)
                ctype = "text/html; charset=iso-8859-1"
                body = html.encode("latin-1")
            elif flavours[k] == "ascii":  # ASCII, no charset anywhere
                html, text = _html_page(rng, words, n_words, None)
                ctype = "text/html"
                body = html.encode("ascii")
            else:
                html, text = _html_page(rng, utf8_words, n_words, "utf-8")
                ctype = "text/html; charset=utf-8"
                body = html.encode("utf-8")
            http = _http_block(200, [("Content-Type", ctype), ("Server", "gen")], body)
            truth_url.append(url)
            truth_text.append(text)
        elif kind == "redirect":
            http = _http_block(301, [("Content-Type", "text/html"),
                                     ("Location", url + "?r=1")], b"")
        else:
            ctype = ("application/pdf", "image/png", "application/json",
                     "text/plain")[int(rng.integers(0, 4))]
            body = rng.integers(0, 256, int(rng.integers(200, 6000)), dtype=np.uint8).tobytes()
            http = _http_block(200, [("Content-Type", ctype)], body)
        resp = _warc_record(
            [("WARC-Type", "response"), ("WARC-Target-URI", url), ("WARC-Date", date),
             ("WARC-Record-ID", f"<urn:uuid:resp-{seed}-{i}>"),
             ("WARC-IP-Address", f"10.0.{i % 250}.{i % 200}"),
             ("Content-Type", "application/http; msgtype=response")],
            http,
        )
        meta = _warc_record(
            [("WARC-Type", "metadata"), ("WARC-Target-URI", url), ("WARC-Date", date),
             ("WARC-Record-ID", f"<urn:uuid:meta-{seed}-{i}>"),
             ("Content-Type", "application/warc-fields")],
            f"fetchTimeMs: {int(rng.integers(10, 900))}\r\n".encode(),
        )
        # Each capture goes to the file with the fewest bytes so far, so
        # the files, and the tasks reading them, stay balanced.
        f = int(np.argmin(file_bytes))
        members = [_gz(req), _gz(resp), _gz(meta)]
        files[f] += members
        file_bytes[f] += sum(len(m) for m in members)
    names = []
    for f, members in enumerate(files):
        name = f"crawl-{f:03d}.warc.gz"
        (warc_dir / name).write_bytes(b"".join(members))
        names.append(name)
    # Relative paths: the manifest is hash-partitioned by path string, so
    # the same strings must reach Spark wherever the checkout lives.
    rel = os.path.relpath(warc_dir, Path.cwd())
    (out / "manifest.txt").write_text("".join(f"{rel}/{n}\n" for n in names))
    pq.write_table(pa.table({"url": truth_url, "text": truth_text}), out / "truth.parquet")
    return {"items": n_html, "files": n_files, "html": len(truth_url)}


# --------------------------------------------------------------- graph


def pagerank_reference(s: np.ndarray, t: np.ndarray, rounds: int, damping: float = 0.85):
    """(ids, ranks): the damped power iteration with uniform dangling
    redistribution, over the directed edge list as given."""
    ids, inv = np.unique(np.concatenate([s, t]), return_inverse=True)
    n = len(ids)
    si, ti = inv[: len(s)], inv[len(s):]
    deg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(rounds):
        contrib = np.bincount(ti, weights=r[si] / deg[si], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return ids, r


def lpa_reference(a: np.ndarray, b: np.ndarray, max_rounds: int = 64):
    """(ids, labels, rounds): synchronous label propagation with one
    self-vote, plurality label with the smallest label on ties; stops at
    a fixed point, or at a period-2 cycle returning the elementwise
    minimum of the two phases. ``a``/``b`` are canonical undirected
    pairs (a < b, each pair once)."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    n = len(ids)
    ai, bi = inv[: len(a)], inv[len(a):]
    loop = np.arange(n)
    src = np.concatenate([ai, bi, loop])
    dst = np.concatenate([bi, ai, loop])
    lab = ids.copy()
    prev2 = None
    for rnd in range(1, max_rounds + 1):
        key_t, key_l = dst, lab[src]
        order = np.lexsort((key_l, key_t))
        kt, kl = key_t[order], key_l[order]
        new_group = np.ones(len(kt), dtype=bool)
        new_group[1:] = (kt[1:] != kt[:-1]) | (kl[1:] != kl[:-1])
        starts = np.flatnonzero(new_group)
        counts = np.diff(np.append(starts, len(kt)))
        gt, gl = kt[starts], kl[starts]
        best = np.lexsort((gl, -counts, gt))
        first = np.ones(len(best), dtype=bool)
        first[1:] = gt[best][1:] != gt[best][:-1]
        pick = best[first]
        nxt = np.empty(n, dtype=lab.dtype)
        nxt[gt[pick]] = gl[pick]
        if np.array_equal(nxt, lab):
            return ids, nxt, rnd
        if prev2 is not None and np.array_equal(nxt, prev2):
            return ids, np.minimum(nxt, lab), rnd
        prev2, lab = lab, nxt
    raise RuntimeError(f"lpa reference: no fixed point within {max_rounds} rounds")


def _power_law_edges(rng, n_vertices: int, n_edges: int) -> tuple[np.ndarray, np.ndarray]:
    """Directed edges (s, t): targets drawn by a Zipf-like popularity
    with a few hot hubs, sources by a milder one; no self loops, no
    duplicate edges. Vertex ids are a seeded permutation."""
    ranks = np.arange(1, n_vertices + 1, dtype=np.float64)
    p_t = ranks ** -1.1
    p_t /= p_t.sum()
    p_s = ranks ** -0.6
    p_s /= p_s.sum()
    label = rng.permutation(n_vertices).astype(np.int64) * 7 + 11
    seen: set = set()
    s_list, t_list = [], []
    while len(s_list) < n_edges:
        need = n_edges - len(s_list)
        s = rng.choice(n_vertices, int(need * 1.3) + 16, p=p_s)
        t = rng.choice(n_vertices, len(s), p=p_t)
        for u, v in zip(label[s].tolist(), label[rng.permutation(t)].tolist()):
            if u != v and (u, v) not in seen:
                seen.add((u, v))
                s_list.append(u)
                t_list.append(v)
                if len(s_list) == n_edges:
                    break
    return np.array(s_list, dtype=np.int64), np.array(t_list, dtype=np.int64)


def gen_graph(out: Path, seed: int, n_vertices: int, n_edges: int, rounds: int,
              lpa_rounds: int) -> dict:
    """Power-law edge table on which label propagation converges in
    exactly ``lpa_rounds`` rounds: graphs are drawn from the seed's
    stream until one does, so the work per pass does not vary with the
    seed (the round count otherwise ranges from about 6 to 22)."""
    rng = _rng(seed, 2)
    for attempt in range(200):
        s_arr, t_arr = _power_law_edges(rng, n_vertices, n_edges)
        a, b = np.minimum(s_arr, t_arr), np.maximum(s_arr, t_arr)
        canon = np.unique(np.stack([a, b], axis=1), axis=0)
        lids, labels, got = lpa_reference(canon[:, 0], canon[:, 1])
        if got == lpa_rounds:
            break
    else:
        raise RuntimeError(f"no graph with {lpa_rounds} LPA rounds in 200 draws")
    pq.write_table(pa.table({"s": s_arr, "t": t_arr}), out / "edges.parquet")
    ids, pr = pagerank_reference(s_arr, t_arr, rounds)
    pq.write_table(pa.table({"id": ids, "rank": pr}), out / "truth_pagerank.parquet")
    pq.write_table(pa.table({"id": lids, "community": labels}), out / "truth_lpa.parquet")
    return {"items": n_edges, "vertices": int(len(ids)), "pagerank_rounds": rounds,
            "lpa_rounds": got, "draws": attempt + 1}


# --------------------------------------------------------------- dedup

#: Words the documents are drawn from.
DOC_VOCAB = 5000


def gen_docs(out: Path, seed: int, n_docs: int, hot_size: int) -> dict:
    """Documents table (doc_id, url, text) with planted near-duplicate
    clusters, exact duplicates and one hot cluster larger than the LSH
    bucket cap. A near-duplicate differs from its cluster's base by one
    token added at an end, which changes one 3-shingle: Jaccard stays
    near 1, so MinHash-LSH finds the pair with overwhelming probability."""
    rng = _rng(seed, 3)
    words = _vocab(rng, DOC_VOCAB)
    texts: list[list[str]] = []
    cluster: list[int] = []  # -1 = unrelated base doc

    def base(lo: int, hi: int) -> list[str]:
        return [words[i] for i in rng.integers(0, DOC_VOCAB, int(rng.integers(lo, hi + 1)))]

    def variant(toks: list[str]) -> list[str]:
        r = rng.random()
        w = words[int(rng.integers(DOC_VOCAB))]
        if r < 0.2:
            return list(toks)  # exact duplicate
        if r < 0.6:
            return toks + [w]
        return [w] + toks

    cid = 0
    hot = base(200, 400)
    texts.append(hot)
    cluster.append(cid)
    for _ in range(hot_size - 1):
        texts.append(variant(hot))
        cluster.append(cid)
    cid += 1
    n_planted = int(n_docs * 0.25)
    while sum(1 for c in cluster if c >= 1) < n_planted:
        b = base(200, 400)
        k = int(rng.integers(2, 7))
        texts.append(b)
        cluster.append(cid)
        for _ in range(k - 1):
            texts.append(variant(b))
            cluster.append(cid)
        cid += 1
    while len(texts) < n_docs:
        texts.append(base(100, 400))
        cluster.append(-1)
    doc_id = (rng.permutation(len(texts)) + 1).astype(np.int64)
    order = np.argsort(doc_id)
    tbl = pa.table({
        "doc_id": doc_id[order],
        "url": [f"http://docs.example/{int(d)}" for d in doc_id[order]],
        "text": [" ".join(texts[i]) for i in order],
    })
    pq.write_table(tbl, out / "docs.parquet", row_group_size=4096)
    pq.write_table(pa.table({"doc_id": doc_id, "cluster": np.array(cluster, dtype=np.int64)}),
                   out / "truth_clusters.parquet")
    return {"items": len(texts), "clusters": cid, "hot_size": hot_size}


GENERATORS = {"crawl_to_docs": gen_crawl, "host_graph": gen_graph, "doc_dedup": gen_docs}


def ensure_inputs(root: Path, workload: str, seed: int, **sizes) -> tuple[Path, dict]:
    """Generate and return the workload's input directory and summary.

    The directory is named by the workload alone and regenerated when
    the seed or sizes change. The WARC manifest is hash-partitioned by
    path string, so seed-independent paths keep the file-to-task layout
    the same in every run."""
    d = root / workload
    done = d / "inputs.json"
    key = {"version": GEN_VERSION, "seed": seed, "sizes": sizes}
    if done.exists():
        cached = json.loads(done.read_text())
        if cached["key"] == key:
            return d, cached["info"]
    # Older inputs, or a generation that did not finish.
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    info = GENERATORS[workload](d, seed, **sizes)
    done.write_text(json.dumps({"key": key, "info": info}))
    return d, info
