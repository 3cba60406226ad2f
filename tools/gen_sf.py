"""Self-generated scale-up fixtures (VERDICT r10 item 3).

The driver caps shipped testdata at sf0.1 (~600k lineitem); O(n^2)
cliffs in pair-generating operators hide below that. This tool builds
an sf1.0-equivalent dataset under ``.tmp/sf1.0/`` (never touching the
read-only /root/testdata) so ``tools/scale_smoke.py`` can time the most
expensive registered queries one decade up.

Construction, fully deterministic (fixed seeds, no wall clock):

* ``region``/``nation``: fixed dims, copied verbatim.
* ``customer supplier part orders lineitem events``: REPLICATED
  ``--factor`` times with per-replica key shifts of (max_key + 1) on
  every scaling key, FK-consistently (o_custkey shifts by the customer
  shift, l_orderkey by the orders shift, events.user_id by the
  customer shift q328 joins on). Non-key attributes are left byte-
  identical: group-key cardinalities scale through the shifted ids
  while value distributions (dates, prices, statuses) keep the
  original shape, which is exactly what a throughput smoke wants.
* ``documents``: FRESH text, not replication — cloning text 10x would
  hand every doc 9 exact copies and melt the dedup family's geometry.
  Per-lang unigram distributions and the empirical token-length
  distribution are measured from the source corpus, then new docs are
  sampled from them (Zipf shape preserved => shingle/line document
  frequencies scale the way a real corpus does). The source corpus's
  duplicate geometry is re-planted at measured rates: ~0.2% exact
  copies, ~4% near-dups (clone + ~10% token substitutions).
* ``embeddings``: fresh unit-normalized float32 vectors (same dim),
  labels drawn from the source label distribution.

Row counts, key ranges and schemas match the source layout so every
registered builder runs unmodified with ``sf_dir=.tmp/sf1.0``.
Oracle parity at sf1.0 is NOT the goal (the driver gate owns
correctness at sf0.01); wall-clock scaling is.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from brazilian_e_commerce_data_pipeline_analytics_spark.scratch import scratch_path  # noqa: E402

SRC_DEFAULT = "/root/testdata/sf0.1"
DST_DEFAULT = scratch_path("sf1.0")

_COPY = ("region", "nation")
# table -> {column: shift-group}; every column in a shift group moves by
# that group's (max+1) per replica, so FKs stay consistent.
_SHIFT = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
}


def _shift_bases(src: str) -> dict[str, int]:
    bases = {}
    probe = {
        "cust": ("customer", "c_custkey"),
        "supp": ("supplier", "s_suppkey"),
        "part": ("part", "p_partkey"),
        "order": ("orders", "o_orderkey"),
        "event": ("events", "event_id"),
    }
    for grp, (table, col) in probe.items():
        arr = pq.read_table(f"{src}/{table}.parquet", columns=[col])[col]
        bases[grp] = int(pa.compute.max(arr).as_py()) + 1
    return bases


def _replicate(src: str, dst: str, table: str, factor: int, bases: dict[str, int]):
    t = pq.read_table(f"{src}/{table}.parquet")
    shifts = _SHIFT[table]
    reps = []
    for r in range(factor):
        cols = []
        for name in t.schema.names:
            col = t[name]
            if name in shifts and r > 0:
                col = pa.chunked_array(
                    [pa.compute.add(c, r * bases[shifts[name]]) for c in col.chunks]
                )
            cols.append(col)
        reps.append(pa.table(cols, schema=t.schema))
    pq.write_table(pa.concat_tables(reps), f"{dst}/{table}.parquet")


def _gen_documents(src: str, dst: str, factor: int, seed: int = 42):
    t = pq.read_table(f"{src}/documents.parquet")
    texts = t["text"].to_pylist()
    langs = t["lang"].to_pylist()
    sources = t["source"].to_pylist()
    n_src = len(texts)
    n_out = n_src * factor

    # per-lang unigram distributions + empirical doc lengths
    by_lang: dict[str, dict] = {}
    for txt, lg in zip(texts, langs):
        toks = re.findall(r"\S+", txt)
        d = by_lang.setdefault(lg, {"counts": {}, "lens": []})
        d["lens"].append(len(toks))
        for tok in toks:
            d["counts"][tok] = d["counts"].get(tok, 0) + 1
    lang_names = sorted(by_lang)
    lang_p = np.array([len(by_lang[lg]["lens"]) for lg in lang_names], dtype=float)
    lang_p /= lang_p.sum()
    vocab = {}
    for lg in lang_names:
        items = sorted(by_lang[lg]["counts"].items())
        words = np.array([w for w, _ in items])
        p = np.array([c for _, c in items], dtype=float)
        vocab[lg] = (words, p / p.sum(), np.array(by_lang[lg]["lens"]))

    rng = np.random.default_rng(seed)
    doc_lang = rng.choice(len(lang_names), size=n_out, p=lang_p)
    out_text: list[str] = []
    out_lang: list[str] = []
    for i in range(n_out):
        lg = lang_names[doc_lang[i]]
        words, p, lens = vocab[lg]
        nt = int(lens[rng.integers(0, len(lens))])
        out_text.append(" ".join(rng.choice(words, size=nt, p=p)))
        out_lang.append(lg)

    # re-plant the source corpus's duplicate geometry (measured at
    # sf0.1: 8/5000 exact, ~236/5000 near-dup drops at J>=0.5)
    n_exact = max(1, round(0.002 * n_out))
    n_near = max(1, round(0.04 * n_out))
    for j in rng.choice(np.arange(1, n_out), size=n_exact + n_near, replace=False):
        k = int(rng.integers(0, j))
        if n_exact > 0:
            out_text[j], out_lang[j] = out_text[k], out_lang[k]
            n_exact -= 1
        else:  # near-dup: ~10% token substitutions from the same lang
            toks = out_text[k].split(" ")
            words, p, _ = vocab[out_lang[k]]
            n_mut = max(1, len(toks) // 10)
            for pos in rng.integers(0, len(toks), size=n_mut):
                toks[pos] = str(rng.choice(words, p=p))
            out_text[j], out_lang[j] = " ".join(toks), out_lang[k]

    out_source = [sources[i % n_src] for i in range(n_out)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_out), type=pa.int64()),
                "text": pa.array(out_text, type=pa.string()),
                "lang": pa.array(out_lang, type=pa.string()),
                "source": pa.array(out_source, type=pa.string()),
                "n_chars": pa.array([len(s) for s in out_text], type=pa.int64()),
            }
        ),
        f"{dst}/documents.parquet",
    )


def _gen_embeddings(src: str, dst: str, factor: int, seed: int = 43):
    t = pq.read_table(f"{src}/embeddings.parquet")
    dim = len(t["embedding"][0].as_py())
    labels = np.asarray(t["label"].to_pylist())
    n_out = t.num_rows * factor
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n_out, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    lab_vals, lab_counts = np.unique(labels, return_counts=True)
    out_labels = rng.choice(lab_vals, size=n_out, p=lab_counts / lab_counts.sum())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_out), type=pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.ravel(), type=pa.float32()), dim
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(out_labels.astype("int32"), type=pa.int32()),
            }
        ),
        f"{dst}/embeddings.parquet",
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", default=SRC_DEFAULT)
    ap.add_argument("--dst", default=DST_DEFAULT)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    bases = _shift_bases(args.src)
    for table in _COPY:
        pq.write_table(pq.read_table(f"{args.src}/{table}.parquet"),
                       f"{args.dst}/{table}.parquet")
        print(f"{table}: copied")
    for table in _SHIFT:
        _replicate(args.src, args.dst, table, args.factor, bases)
        print(f"{table}: x{args.factor} replicated")
    _gen_documents(args.src, args.dst, args.factor)
    print("documents: regenerated")
    _gen_embeddings(args.src, args.dst, args.factor)
    print("embeddings: regenerated")


if __name__ == "__main__":
    main()
