"""Seeded input generator for the benchmark workloads.

Writes the ten base tables `views.register_all` expects (same column names
and Arrow types as the star-schema testdata), the pre-generated streaming
drops, and a ground-truth sidecar the workloads check their outputs against.
Everything is a pure function of (seed, sizes): the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import json
import math
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Cumulative size buckets of operators.stats.SIZE_BUCKETS (kept literal so
# the sidecar is computed independently of the code under test).
SIZE_BUCKETS = [
    ("sub_1mb", 1_000_000),
    ("sub_5mb", 5_000_000),
    ("sub_10mb", 10_000_000),
    ("sub_50mb", 50_000_000),
    ("sub_100mb", 100_000_000),
    ("sub_1gb", 1_000_000_000),
    ("sub_5gb", 5_000_000_000),
]
MULTIPART_PART_BYTES = 5 * 1024**3
STORAGE_CLASSES = ("STANDARD", "STANDARD_IA", "GLACIER")

LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ist"],
    "es": ["el", "que", "de", "la", "los"],
    "fr": ["le", "et", "les", "des", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}
LANGS = ("en", "de", "es", "fr", "zh", "und")
N_SOURCES = 20
EXACT_DUP_SHARE = 0.10  # documents that repeat an earlier document's content
NEAR_DUP_SHARE = 0.08  # documents that are an earlier one with two tokens edited
VECTOR_DUP_SHARE = 0.05  # vectors that are a near copy of an earlier one
REDELIVER_SHARE = 0.05  # tasks in a drop that re-deliver an earlier drop's task
DOC_DUP_SHARE = 0.25  # streamed documents that repeat another streamed document
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# object inventory (lineitem-shaped) and its expected plan


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """One row per source object. views.INVENTORY_SRC/DST derive the sync
    diff from l_linenumber and l_returnflag:
      New    = linenumber 1, plus the src side of (7, 'N') rows
      Delete = (7, 'N') rows, re-keyed '/dst-only' in dst
      Update = returnflag 'R' (etag and size drift in dst)
    Shares: P(ln=1)=0.12, P(ln=7)=0.08 with P(N|7)=3/8, P(R|ln>1)=0.114
    give ~15% New, ~10% Update, ~3% Delete."""
    orderkey = rng.permutation(n).astype("int64") * 4 + 1  # unique per row
    ln = rng.choice(
        np.arange(1, 8, dtype="int32"), size=n, p=[0.12, 0.16, 0.16, 0.16, 0.16, 0.16, 0.08]
    )
    u = rng.random(n)
    flag = np.where(u < 0.114, "R", np.where(u < 0.557, "A", "N")).astype(object)
    seven = ln == 7
    u7 = rng.random(n)
    flag[seven] = np.where(u7[seven] < 0.375, "N", np.where(u7[seven] < 0.489, "R", "A"))
    flag[ln == 1] = np.where(rng.random(int((ln == 1).sum())) < 0.5, "A", "N")
    # Object sizes: log-uniform 1 KB .. 5 GB, 1% outliers 5 GB .. 50 GB.
    # size = floor(l_extendedprice * 100) * (l_orderkey % 997 + 1)
    target = np.exp(rng.uniform(math.log(1e3), math.log(5e9), n))
    out = rng.random(n) < 0.01
    target[out] = np.exp(rng.uniform(math.log(5e9), math.log(5e10), int(out.sum())))
    mult = (orderkey % 997) + 1
    cents = np.maximum(1, np.round(target / mult)).astype("int64")
    price = cents / 100.0
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"), pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(flag.tolist(), pa.string()),
            "l_linestatus": pa.array(np.where(rng.random(n) < 0.5, "O", "F").tolist(), pa.string()),
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, n) * 86_400_000_000),
        }
    )


def _expected_sync_plan(li: pa.Table) -> dict:
    """Ground truth for the sync_plan queries, computed from the raw columns
    with the view definitions' arithmetic (IEEE doubles, floor before the
    integer multiply — the same operations Spark and DuckDB run)."""
    ok = li.column("l_orderkey").to_numpy()
    ln = li.column("l_linenumber").to_numpy()
    flag = np.array(li.column("l_returnflag").to_pylist(), dtype=object)
    price = li.column("l_extendedprice").to_numpy()
    supp = li.column("l_suppkey").to_numpy()
    qty = li.column("l_quantity").to_numpy()
    size = np.floor(price * 100).astype("int64") * ((ok % 997) + 1)
    is_new = (ln == 1) | ((ln == 7) & (flag == "N"))
    is_del = (ln == 7) & (flag == "N")
    is_upd = (flag == "R") & (ln != 1)
    n = len(size)

    def _req(mask):
        return int(np.maximum(np.ceil(size[mask] / MULTIPART_PART_BYTES), 1).sum())

    diff = {
        "New": {"n": int(is_new.sum()), "bytes": int(size[is_new].sum()), "requests": _req(is_new)},
        "Update": {"n": int(is_upd.sum()), "bytes": int(size[is_upd].sum()), "requests": _req(is_upd)},
        "Delete": {"n": int(is_del.sum()), "bytes": 0, "requests": int(is_del.sum())},
    }
    hist = {"total_objects": n, "total_size_bytes": int(size.sum())}
    for name, t in SIZE_BUCKETS:
        hist[name] = int((size <= t).sum())
    cls = supp % 3
    stats = {}
    for i, c in enumerate(STORAGE_CLASSES):
        m = cls == i
        stats[c] = {
            "object_count": int(m.sum()),
            "total_size": int(size[m].sum()),
            "multipart_count": int((m & (qty > 25)).sum()),
        }
    return {
        "objects": n,
        "bytes": int(size.sum()),
        "diff": diff,
        "histogram": hist,
        "stats": stats,
        "task_files": math.ceil(n / 100),
    }


# --------------------------------------------------------------------------
# documents and embeddings


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("bcdfghjklmnprstvwxz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, 5)] for _ in range(k))
        words.add(w)
    return sorted(words)


def _doc_tokens(rng: np.random.Generator, vocab: list[str], lang: str) -> list[str]:
    n = int(rng.integers(30, 70))
    toks = [vocab[i] for i in rng.integers(0, len(vocab), n)]
    if lang != "und":
        marks = LANG_MARKERS[lang]
        for pos in rng.choice(n, size=max(3, n // 8), replace=False):
            toks[pos] = marks[int(rng.integers(0, len(marks)))]
    return toks


def _edit(rng: np.random.Generator, toks: list[str], vocab: list[str], k: int) -> list[str]:
    out = list(toks)
    for pos in rng.choice(len(out), size=k, replace=False):
        out[pos] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def _render(rng: np.random.Generator, toks: list[str]) -> str:
    """Join tokens; exact duplicates may differ in case and whitespace, which
    the content hash (md5 of lowercased, whitespace-collapsed text) ignores."""
    seps = np.where(rng.random(len(toks) - 1) < 0.1, "  ", " ")
    text = toks[0] + "".join(s + t for s, t in zip(seps, toks[1:]))
    return text.upper() if rng.random() < 0.2 else text


def _corpus(rng: np.random.Generator, n: int):
    """(doc_id, text, lang, source, content_id) rows. content_id is the
    ground-truth exact-content group; near-dups get their own content."""
    vocab = _vocab(rng, 3000)
    rows = []
    originals: list[tuple[list[str], str, int]] = []
    content = 0
    for doc_id in range(n):
        u = rng.random()
        if originals and u < EXACT_DUP_SHARE:
            toks, lang, cid = originals[int(rng.integers(0, len(originals)))]
        elif originals and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks, lang, _ = originals[int(rng.integers(0, len(originals)))]
            toks = _edit(rng, toks, vocab, 2)
            cid = content
            content += 1
        else:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            toks = _doc_tokens(rng, vocab, lang)
            if rng.random() < 0.05:  # low-quality: punctuation-heavy
                toks = [t + "!?;" for t in toks]
            cid = content
            content += 1
            originals.append((toks, lang, cid))
        rows.append((doc_id, _render(rng, toks), lang, f"src{int(rng.integers(0, N_SOURCES))}", cid))
    return rows


def _documents_table(rows) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """64-d vectors around 16 planted cluster centres; VECTOR_DUP_SHARE of
    them are near-copies (tiny noise) of an earlier vector."""
    centres = rng.normal(size=(16, 64))
    label = rng.integers(0, 16, n)
    vec = centres[label] * 0.6 + rng.normal(size=(n, 64))
    dup = rng.random(n) < VECTOR_DUP_SHARE
    dup[0] = False
    for i in np.flatnonzero(dup):
        j = int(rng.integers(0, i))
        vec[i] = vec[j] + rng.normal(scale=0.01, size=64)
        label[i] = label[j]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype("int32"), pa.int32()),
        }
    )


# --------------------------------------------------------------------------
# small dimension tables (registered by views.register_all; the workloads
# never read them, so they stay tiny)


def _dims(rng: np.random.Generator, out: str) -> None:
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array([f"REGION{i}" for i in range(5)])}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    nc = 150
    _write(pa.table({"c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
                     "c_name": pa.array([f"Customer#{i}" for i in range(1, nc + 1)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32"), pa.int32()),
                     "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), pa.float64()),
                     "c_mktsegment": pa.array([("AUTO", "BUILD", "MACH")[i % 3] for i in range(nc)])}),
           f"{out}/customer.parquet")
    ns = 100
    _write(pa.table({"s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
                     "s_name": pa.array([f"Supplier#{i}" for i in range(1, ns + 1)]),
                     "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32"), pa.int32()),
                     "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2), pa.float64())}),
           f"{out}/supplier.parquet")
    npart = 200
    _write(pa.table({"p_partkey": pa.array(np.arange(1, npart + 1), pa.int64()),
                     "p_name": pa.array([f"part {i}" for i in range(1, npart + 1)]),
                     "p_brand": pa.array([f"Brand#{i % 5}" for i in range(npart)]),
                     "p_type": pa.array([("STEEL", "COPPER", "TIN")[i % 3] for i in range(npart)]),
                     "p_size": pa.array(rng.integers(1, 51, npart).astype("int32"), pa.int32()),
                     "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, npart), 2), pa.float64())}),
           f"{out}/part.parquet")
    no = 1000
    _write(pa.table({"o_orderkey": pa.array(np.arange(1, no + 1), pa.int64()),
                     "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
                     "o_orderstatus": pa.array([("O", "F", "P")[i % 3] for i in range(no)]),
                     "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5, no), 2), pa.float64()),
                     "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, no) * 86_400_000_000),
                     "o_orderpriority": pa.array([f"{1 + i % 5}-PRIO" for i in range(no)])}),
           f"{out}/orders.parquet")
    ne = 1000
    _write(pa.table({"event_id": pa.array(np.arange(ne), pa.int64()),
                     "ts": _ts(1_704_067_200_000_000 + np.sort(rng.integers(0, 86_400_000_000, ne))),
                     "user_id": pa.array(rng.integers(0, 100, ne), pa.int64()),
                     "event_type": pa.array([("view", "click", "purchase", "error")[i] for i in rng.integers(0, 4, ne)]),
                     "value": pa.array(np.round(rng.uniform(0, 50, ne), 2), pa.float64()),
                     "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)])}),
           f"{out}/events.parquet")


@dataclass(frozen=True)
class BaseSizes:
    objects: int
    docs: int
    vectors: int


def write_base(out: str, seed: int, sizes: BaseSizes) -> dict:
    """Write the ten base tables to `out`; return the sidecar (also written
    to `out/_truth.json`)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    li = _lineitem(rng, sizes.objects)
    _write(li, f"{out}/lineitem.parquet")
    rows = _corpus(np.random.default_rng([seed, 2]), sizes.docs)
    _write(_documents_table(rows), f"{out}/documents.parquet")
    _write(_embeddings(np.random.default_rng([seed, 3]), sizes.vectors), f"{out}/embeddings.parquet")
    _dims(np.random.default_rng([seed, 4]), out)
    truth = {
        "seed": seed,
        "sync_plan": _expected_sync_plan(li),
        "corpus": {
            "docs": sizes.docs,
            "distinct_contents": len({r[4] for r in rows}),
            "vectors": sizes.vectors,
        },
    }
    with open(f"{out}/_truth.json", "w") as f:
        json.dump(truth, f)
    return truth


# --------------------------------------------------------------------------
# streaming drops


def copy_fails(key: str) -> bool:
    """The simulated copy fails for ~5% of keys, by a stable key hash."""
    return zlib.crc32(key.encode()) % 20 == 0


def write_task_drops(stage: str, seed: int, n_drops: int, per_drop: int) -> list[dict]:
    """Pre-generate task-JSON drop files (TASK_SCHEMA rows, one JSON object
    per line) in `stage`. REDELIVER_SHARE of each drop after the first
    re-delivers tasks from earlier drops. Returns per-drop truth: file name,
    row count and the task keys it carries."""
    os.makedirs(stage, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    sent: list[dict] = []
    out = []
    for d in range(n_drops):
        n_re = int(round(per_drop * REDELIVER_SHARE)) if sent else 0
        fresh = []
        for i in range(per_drop - n_re):
            key = f"obj/{d:05d}/{i:05d}-{int(rng.integers(0, 1 << 30)):08x}"
            size = int(np.exp(rng.uniform(math.log(1e3), math.log(5e9))))
            fresh.append({"bucket": "src-bucket", "key": key, "size": size,
                          "etag": f"{zlib.crc32(key.encode()):08x}", "dst_bucket": "dst-bucket"})
        redo = [sent[int(j)] for j in rng.choice(len(sent), size=n_re, replace=False)] if n_re else []
        rows = fresh + redo
        rows = [rows[int(j)] for j in rng.permutation(len(rows))]
        name = f"drop-{d:05d}.json"
        with open(f"{stage}/{name}", "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in rows))
        sent.extend(fresh)
        out.append({"file": name, "rows": len(rows), "keys": [r["key"] for r in rows]})
    return out


def write_doc_drops(stage: str, seed: int, n_drops: int, per_drop: int) -> list[dict]:
    """Pre-generate document drops (doc_id, text, lang parquet files) in
    `stage`. DOC_DUP_SHARE of each drop repeats content from any drop (earlier or
    later); doc_ids are a random permutation over all drops, so late copies
    with a lower doc_id take over as keeper. Returns per-drop truth: file
    name, rows, and each doc's (doc_id, content_id)."""
    os.makedirs(stage, exist_ok=True)
    rng = np.random.default_rng([seed, 6])
    vocab = _vocab(rng, 3000)
    total = n_drops * per_drop
    ids = rng.permutation(total).astype("int64")
    n_content = max(1, int(total * (1 - DOC_DUP_SHARE)))
    contents = []
    for _ in range(n_content):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        contents.append((_doc_tokens(rng, vocab, lang), lang))
    # every content appears at least once; the rest are duplicates
    cid = np.concatenate([np.arange(n_content), rng.integers(0, n_content, total - n_content)])
    cid = cid[rng.permutation(total)]
    out = []
    for d in range(n_drops):
        sl = slice(d * per_drop, (d + 1) * per_drop)
        docs = ids[sl]
        cids = cid[sl]
        texts = [_render(rng, contents[c][0]) for c in cids]
        langs = [contents[c][1] for c in cids]
        name = f"drop-{d:05d}.parquet"
        _write(pa.table({"doc_id": pa.array(docs, pa.int64()),
                         "text": pa.array(texts, pa.string()),
                         "lang": pa.array(langs, pa.string())}), f"{stage}/{name}")
        out.append({"file": name, "rows": per_drop,
                    "docs": [[int(a), int(b)] for a, b in zip(docs, cids)]})
    return out
