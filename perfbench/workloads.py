"""Seeded workload generators, each with the text it embedded.

Every generator takes the seed and returns two frames:

* ``transcripts`` — the exact input schema of the extraction job
  ``(conv_id, turn_idx, role, text, tool, ts)``; the program sees only
  this, written to parquet;
* ``expected`` — ``(conv_id, turn_idx, status, text)``: what the job
  must write for every turn.

Expected text never comes from the program under test.  Fixture
variants use the frozen golden strings of ``tests.test_corpus_golden``;
flagship-built payloads use the DuckDB oracle SQL of
``pdf_parser_c_spark.queries`` run over the generated ``documents``
table (the same oracles the query catalog is checked against).

Generated inputs are cached per (workload, seed, size) under the work
directory, so generation never lands in a timed number.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
FORMATS = ("md", "latex", "ipynb", "eml", "docx", "rtf")
_EPOCH = np.datetime64("2026-01-01T00:00:00", "us")

# Turns per workload.  Sized so that a full job takes ~2-3 s on local[4]
# of a 4-core host and one run stays around a minute when the host is
# slow.
SIZES = {"fixture_mix": 1500, "chat_light": 6000}

def _vocabulary() -> np.ndarray:
    """2,000 distinct lowercase a-z pseudo-words, fixed across seeds."""
    syl = [c + v for c in "bdfghklmnprstvz" for v in "aeiou"]
    rng = np.random.default_rng(0)
    words: set[str] = set()
    while len(words) < 2000:
        k = int(rng.integers(1, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return np.array(sorted(words), dtype=object)


VOCAB = _vocabulary()


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(lo, hi)))])


def _conversations(rng: np.random.Generator, n_turns: int) -> tuple[np.ndarray, np.ndarray]:
    """(conv_id, turn_idx) for ``n_turns`` turns: conversations of
    4..40 turns, and every tenth one a mega conversation 10-20x longer
    (the skew the salted exchange has to defuse)."""
    conv, turn = [], []
    c = 0
    while len(conv) < n_turns:
        n = int(rng.integers(4, 41))
        if c % 10 == 9:
            n *= int(rng.integers(10, 21))
        n = min(n, n_turns - len(conv))
        conv += [f"conv{c:06d}"] * n
        turn += range(n)
        c += 1
    return np.array(conv, dtype=object), np.array(turn, dtype=np.int32)


def _frames(rng: np.random.Generator, payloads: list[str], statuses: list[str],
            texts: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Lay turns out as conversations → (transcripts, expected)."""
    conv, turn = _conversations(rng, len(payloads))
    transcripts = pd.DataFrame({
        "conv_id": conv,
        "turn_idx": turn,
        "role": ROLES[turn % 3],
        "text": np.array(payloads, dtype=object),
        "tool": [f"tool{t % 5}" if t % 3 == 2 else None for t in turn],
        "ts": _EPOCH + turn.astype("int64") * np.timedelta64(1, "m"),
    })
    expected = pd.DataFrame({"conv_id": conv, "turn_idx": turn,
                             "status": statuses, "text": texts})
    # rows arrive in a seeded order, not sorted by (conv_id, turn_idx)
    order = rng.permutation(len(conv))
    return (transcripts.iloc[order].reset_index(drop=True),
            expected.iloc[order].reset_index(drop=True))


def _documents_query(sql: str, doc_ids: list[int], texts: list[str]) -> pd.DataFrame:
    """Run one catalog oracle over a ``documents (doc_id, text)`` table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(
            {"doc_id": pd.Series(doc_ids, dtype="int64"), "text": texts}))
        res = con.execute(sql).df()
    finally:
        con.close()
    if res["doc_id"].nunique() != len(doc_ids):
        raise RuntimeError("oracle dropped documents")
    return res


def _oracle(sql: str, doc_ids: list[int], texts: list[str]) -> dict[int, tuple[str, str]]:
    """doc_id → (status, text) by a text oracle.  Oracles without a
    status column imply 'ok'."""
    res = _documents_query(sql, doc_ids, texts)
    status = res["status"] if "status" in res else ["ok"] * len(res)
    return dict(zip(res["doc_id"].astype(int), zip(status, res["text"])))


def _section_oracle(doc_ids: list[int], texts: list[str]) -> dict[int, tuple[str, str]]:
    """Sectioned PDFs: the section-tree oracle gives each section's
    title and content in id order; the turn text is each section as
    'title\ncontent' (or the bare title), joined by blank lines."""
    from pdf_parser_c_spark.queries import SQL_SECTION_TREE

    res = _documents_query(SQL_SECTION_TREE, doc_ids, texts)
    chunks: dict[int, list[str]] = {}
    for doc_id, title, content in zip(res["doc_id"], res["title"], res["content"]):
        chunks.setdefault(int(doc_id), []).append(
            title + "\n" + content if content else title)
    return {d: ("ok", "\n\n".join(c)) for d, c in chunks.items()}


def _shuffled_counts(rng: np.random.Generator, n: int, shares: np.ndarray) -> np.ndarray:
    """n indices into ``shares`` in a seeded order, each index as often
    as its share of n (largest remainders round up).  Every seed gets
    the same composition, so seeds differ in order and content, not in
    how much of each kind of work there is."""
    exact = shares / shares.sum() * n
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact, kind="stable")[:n - counts.sum()]] += 1
    return rng.permutation(np.repeat(np.arange(len(shares)), counts))


def _flagship(rng: np.random.Generator, n: int, mix: dict[str, float]) -> tuple[list[str], list[str], list[str]]:
    """n turns of flagship kinds → (payloads, statuses, texts).

    ``mix`` maps kind → share of the n turns.  Every turn gets its own doc_id
    ``15*i + r``, where ``r`` meets the residue its oracle filters on,
    so doc ids (and with them the payloads) never repeat."""
    from pdf_parser_c_spark import flagship as fs
    from pdf_parser_c_spark import queries as q

    kinds = {  # kind → (builder, residue, oracle SQL or None, word range)
        "plain": (None, 2, q.SQL_EXTRACTION_PLAIN_ROUNDTRIP, (3, 30)),
        "html": (fs.doc_to_html_payload, 1, q.SQL_EXTRACTION_HTML_ROUNDTRIP, (3, 40)),
        "pdf": (fs.doc_to_pdf_payload, 0, q.SQL_EXTRACTION_PDF_ROUNDTRIP, (4, 60)),
        "pdf_sectioned": (fs.doc_to_sectioned_pdf_payload, 0, None, (24, 40)),
        "pdf_cjk": (fs.doc_to_cjk_pdf_payload, 6, q.SQL_EXTRACTION_CJK_ROUNDTRIP, (4, 30)),
        "md": (fs.doc_to_md_payload, 0, q.SQL_EXTRACTION_MD_ROUNDTRIP, (20, 30)),
        "latex": (fs.doc_to_latex_payload, 1, q.SQL_EXTRACTION_LATEX_ROUNDTRIP, (20, 30)),
        "ipynb": (fs.doc_to_ipynb_payload, 1, q.SQL_EXTRACTION_IPYNB_ROUNDTRIP, (16, 30)),
        "eml": (fs.doc_to_eml_payload, 0, q.SQL_EXTRACTION_EML_ROUNDTRIP, (3, 30)),
        "docx": (fs.doc_to_docx_payload, 3, q.SQL_EXTRACTION_DOCX_ROUNDTRIP, (3, 40)),
        "rtf": (fs.doc_to_rtf_payload, 3, q.SQL_EXTRACTION_RTF_ROUNDTRIP, (3, 24)),
    }
    names = list(mix)
    share = np.array([mix[k] for k in names], dtype=float)
    drawn = _shuffled_counts(rng, n, share)
    payloads, statuses, texts = [""] * n, [""] * n, [""] * n
    for j, name in enumerate(names):
        rows = np.flatnonzero(drawn == j)
        if not len(rows):
            continue
        build, residue, sql, (lo, hi) = kinds[name]
        doc_ids = [15 * int(i) + residue for i in rows]
        docs = [_words(rng, lo, hi) for _ in rows]
        want = (_section_oracle(doc_ids, docs) if sql is None
                else _oracle(sql, doc_ids, docs))
        for i, d, t in zip(rows, doc_ids, docs):
            payloads[i] = t if build is None else build(d, t)
            statuses[i], texts[i] = want[d]
    return payloads, statuses, texts


def fixture_mix(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """97% of turns the 20 FIXTURES.md payload variants in equal shares
    and a seeded order, checked against their frozen golden strings; 3%
    office and markup formats, so that every kernel layer does some
    work."""
    from pdf_parser_c_spark.testkit.corpus import build_variants
    from tests.test_corpus_golden import GOLDEN_TEXT

    rng = np.random.default_rng(seed)
    variants = build_variants()
    pick = _shuffled_counts(rng, n - n * 3 // 100, np.ones(len(variants)))
    payloads, statuses, texts = _flagship(rng, n * 3 // 100, dict.fromkeys(FORMATS, 1.0))
    return _frames(rng, [variants[i].payload for i in pick] + payloads,
                   [variants[i].expected_status for i in pick] + statuses,
                   [GOLDEN_TEXT[variants[i].name] for i in pick] + texts)


def chat_light(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Short chat turns: plain and HTML, a share of office and markup
    formats, and 1% flagship PDFs (plain, sectioned, legacy-CMap CJK)."""
    rng = np.random.default_rng(seed)
    return _frames(rng, *_flagship(rng, n, {
        "plain": 0.55, "html": 0.30,
        "pdf": 0.005, "pdf_sectioned": 0.0025, "pdf_cjk": 0.0025,
        **dict.fromkeys(FORMATS, 0.14 / len(FORMATS)),
    }))


GENERATORS = {"fixture_mix": fixture_mix, "chat_light": chat_light}


def materialize(work: str, workload: str, seed: int, n: int | None = None) -> tuple[str, pd.DataFrame]:
    """Generate (or reuse) a workload's input → (transcripts parquet
    path, expected frame keyed by (conv_id, turn_idx))."""
    n = SIZES[workload] if n is None else n
    d = os.path.join(work, "inputs", f"{workload}-{seed}-{n}")
    src, exp = os.path.join(d, "transcripts.parquet"), os.path.join(d, "expected.parquet")
    if not os.path.exists(exp):
        os.makedirs(d, exist_ok=True)
        transcripts, expected = GENERATORS[workload](seed, n)
        pq.write_table(pa.Table.from_pandas(transcripts, preserve_index=False),
                       src + ".tmp", row_group_size=2048)
        pq.write_table(pa.Table.from_pandas(expected, preserve_index=False), exp + ".tmp")
        os.replace(src + ".tmp", src)
        os.replace(exp + ".tmp", exp)
    return src, pd.read_parquet(exp)
