"""Seeded input generators for the benchmark.

Everything here is NumPy + Arrow and runs before the JVM starts, so input
generation never counts toward a workload's set-up or pass time. The same
``seed`` always yields the same rows.

* :func:`corpus` — the nested interleaved corpus ``doc_id, spans`` with the
  defect rates of ``sparkcheck.synth`` (null / duplicate / bad-prefix ids,
  non-printable text spans, offset inversions, three hot id prefixes
  carrying ~50% of docs) as exact counts, optionally bucket-partitioned like
  ``synth.write_bucketed_corpus`` with numeric per-doc columns for the
  runner's state families.
* :func:`tables` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``__spark_entry__.queries()`` reads,
  with the value domains of the repository's fixture tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = [
    "spark", "table", "scan", "merge", "join", "window", "batch", "stream",
    "vector", "column", "filter", "group", "order", "query", "hash", "sort",
    "part", "value", "data", "row",
]
KINDS = ["text", "image", "audio", "video"]
HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _flat(a):
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    """Strings ``values[idx]`` as an Arrow string array (one take kernel)."""
    return pa.array(values).take(pa.array(idx))


def _padded(n: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pc.cast(pa.array(n), pa.string()), width, "0")


def _hex(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    """``n`` random lowercase hex strings of ``width`` characters."""
    chars = np.ascontiguousarray(HEX[rng.integers(0, 16, (n, width))])
    return pa.array(chars.view(f"S{width}").ravel()).cast(pa.string())


def _null_where(mask: np.ndarray, arr) -> pa.Array:
    return _flat(pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr))


def _write(tbl: pa.Table, out_dir: str, n_files: int) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))


def corpus(seed: int, n_docs: int, out_dir: str, n_buckets: int = 0,
           n_files: int = 8) -> None:
    """Write the nested corpus to ``out_dir`` (parquet). With
    ``n_buckets`` > 0 the layout is ``bucket=<b>/`` (a seeded permutation
    of the rows, equal-sized buckets) and three numeric per-doc columns
    (``n_spans``, ``text_chars``, ``quality``) ride along for the runner's
    state families."""
    rng = np.random.default_rng([seed, 1])
    idx = np.arange(n_docs, dtype=np.int64)
    # defects hit exactly n_docs / rate rows, on disjoint rows, so every
    # expectation's unexpected count is the same for every seed
    pairs = rng.choice(n_docs // 2, n_docs // 250, replace=False)
    eff = idx.copy()
    eff[2 * pairs + 1] = 2 * pairs  # row 2j+1 repeats row 2j's id
    free = np.setdiff1d(idx, np.concatenate([2 * pairs, 2 * pairs + 1]))
    picked = rng.choice(free, n_docs // 500 + n_docs // 400, replace=False)
    null_rows, bad_rows = picked[: n_docs // 500], picked[n_docs // 500:]
    u_pref = rng.random(n_docs)[eff]
    cold = rng.integers(0, 24, n_docs)[eff]
    prefixes = ["hot0", "hot1", "hot2", "zz"] + [f"p{i:02d}" for i in range(24)]
    pref = np.where(u_pref < 0.17, 0, np.where(u_pref < 0.34, 1, np.where(
        u_pref < 0.50, 2, 4 + cold)))
    pref[bad_rows] = 3
    doc_id = pc.binary_join_element_wise(_pick(prefixes, pref), _padded(eff, 12), "-")
    is_null = np.zeros(n_docs, dtype=bool)
    is_null[null_rows] = True
    doc_id = _null_where(is_null, doc_id)

    n_spans = rng.integers(0, 17, n_docs)
    total = int(n_spans.sum())
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    pos = np.arange(total, dtype=np.int32) - np.repeat(offsets[:-1], n_spans)
    owner = np.repeat(idx, n_spans)

    is_text = rng.random(total) < 0.55
    kind = _pick(KINDS, np.where(is_text, 0, rng.integers(1, 4, total)))
    text = pc.binary_join_element_wise(
        *[_pick(WORDS, rng.integers(0, len(WORDS), total)) for _ in range(4)], " ")
    # ~1/200 text spans carry a control character: exactly n_docs * 8 * 0.55 / 200
    ctrl = np.zeros(total, dtype=bool)
    ctrl[rng.choice(np.flatnonzero(is_text), n_docs * 11 // 500, replace=False)] = True
    text = pc.if_else(pa.array(ctrl), pc.binary_join_element_wise(text, "\x01", ""), text)
    text = _null_where(~is_text, text)
    media = pc.binary_join_element_wise(
        _pick([f"media://b{b}/" for b in range(4)], rng.integers(0, 4, total)),
        _hex(rng, total, 16), "")
    media = _null_where(is_text, media)
    off = (pos * 10 + rng.integers(0, 5, total)).astype(np.int32)
    bad_doc = np.zeros(n_docs, dtype=bool)
    bad_doc[rng.choice(np.flatnonzero(n_spans >= 3), n_docs // 100, replace=False)] = True
    off = np.where(bad_doc[owner] & (pos == 2), np.int32(3), off)

    span_struct = pa.StructArray.from_arrays(
        [kind, text, media, pa.array(off)],
        names=["kind", "text", "media_ref", "offset"],
    )
    cols = {"doc_id": doc_id, "spans": pa.ListArray.from_arrays(pa.array(offsets), span_struct)}
    if not n_buckets:
        _write(pa.table(cols), out_dir, n_files)
        return
    span_chars = pc.utf8_length(pc.fill_null(text, "")).to_numpy()
    cols["n_spans"] = pa.array(n_spans.astype(np.int64))
    cols["text_chars"] = pa.array(
        np.bincount(owner, weights=span_chars, minlength=n_docs).astype(np.int64))
    cols["quality"] = pa.array(np.round(rng.beta(2, 5, n_docs), 4))
    tbl = pa.table(cols)
    bucket = rng.permutation(n_docs) % n_buckets
    shutil.rmtree(out_dir, ignore_errors=True)
    for b in range(n_buckets):
        d = os.path.join(out_dir, f"bucket={b}")
        os.makedirs(d)
        pq.write_table(tbl.filter(pa.array(bucket == b)), os.path.join(d, "part-0.parquet"))


def tables(seed: int, sf: float, out_dir: str) -> None:
    """Write ``<name>.parquet`` for every table the frozen queries read, at
    scale factor ``sf`` (lineitem has 6M x sf rows)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    n_ev, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    day_us = 86_400 * 1_000_000
    epoch95 = np.datetime64("1995-01-01", "us").astype(np.int64)

    def ts(us: np.ndarray) -> pa.Array:
        return pa.array(us, type=pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": [f"NATION{i:02d}" for i in range(25)],
                    "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(n_cust, dtype=np.int64)
    save("customer", {
        "c_custkey": ck,
        "c_name": pc.binary_join_element_wise("Customer#", _padded(ck, 9), ""),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                               "MACHINERY"], rng.integers(0, 5, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    save("supplier", {
        "s_suppkey": sk,
        "s_name": pc.binary_join_element_wise("Supplier#", _padded(sk, 9), ""),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["small", "red", "blue", "hot", "cold", "green", "big", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "nut", "screw", "pipe", "valve"]
    save("part", {
        "p_partkey": pk,
        "p_name": pc.binary_join_element_wise(
            _pick(adj, rng.integers(0, 8, n_part)), _pick(noun, rng.integers(0, 8, n_part)), " "),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": ts(epoch95 + rng.integers(0, 2400, n_ord) * day_us),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                  "5-LOW"], rng.integers(0, 5, n_ord)),
    })
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": ts(epoch95 + (1 + rng.integers(0, 2500, n_li)) * day_us),
    })
    start24 = np.datetime64("2024-01-01", "us").astype(np.int64)
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(start24 + np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": _pick(["click", "error", "purchase", "signup", "view"],
                            rng.integers(0, 5, n_ev)),
        "value": np.round(np.clip(rng.exponential(20, n_ev), 0.01, 490), 2),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", ""),
    })
    # documents: ~5% are a copy of an earlier doc plus a trailing "dup"
    vocab = WORDS + ["customer", "line", "key", "agg", "slow", "fast", "small",
                     "big", "the", "a"]
    texts = [" ".join(rng.choice(vocab, rng.integers(10, 100))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n_docs, p=[0.42, 0.15, 0.15, 0.14, 0.14])
    save("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
