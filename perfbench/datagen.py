"""Seeded input generator for the benchmark.

Writes the two parquet inputs the read workloads take, in the schemas of
the repository's TPC-H-style fixtures (FIXTURES.md, family B):

- ``orders.parquet`` for ``lake_read`` (the only table its queries read);
- ``documents.parquet`` and ``embeddings.parquet`` for ``corpus_ops``
  (the base corpus; the program replicates it while staging).

The value domains match the fixtures the lakehouse queries were written
against (keys ``0..n-1``, order dates 1995-01-01..2001-08-01, five
priorities), so every query keeps its pruning behaviour; the seed only
changes the values. The same seed always gives byte-identical tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "en", "de", "fr", "es", "zh"]
DAY0 = np.datetime64("1995-01-01", "D")
DAYS = int((np.datetime64("2001-08-01", "D") - DAY0).astype(int)) + 1

ROWS_PER_SF = {"orders": 1_500_000, "documents": 50_000, "embeddings": 20_000}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def raw_bytes(table):
    """User bytes of a table: 8 per 64-bit value, 4 per 32-bit value, and
    the UTF-8 length of every string (list elements counted alike)."""
    total = 0
    for col in table.columns:
        t = col.type
        if pa.types.is_list(t):
            col = pa.chunked_array([c.flatten() for c in col.chunks], t.value_type)
            t = t.value_type
        if pa.types.is_string(t):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += (t.bit_width // 8) * len(col)
    return total


def orders(rng, n):
    keys = np.arange(n, dtype=np.int64)
    days = rng.integers(0, DAYS, n)
    dates = (DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, max(n // 10, 1), n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(dates, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def documents(rng, n):
    """Random word salad over a 30-word vocabulary, 10 to 100 words long
    (lengths cycle, so every seed has the same token count); every 20th
    document is a near-copy of an earlier one (one ``dup`` token appended)
    and every 500th an exact copy, as in the fixture corpus."""
    texts = []
    for i in range(n):
        if i > 10 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and i % 500 == 7:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), 10 + (i * 37) % 91)
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around ten label centroids of equal norm."""
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    centroids *= np.sqrt(dim) / np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = centroids[label] + rng.normal(0.0, 2.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(workload, seed, sf, out_dir):
    """Write the inputs of ``workload`` at scale factor ``sf``, and their
    user bytes (the space metric's divisor) to ``user_bytes``."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {}
    if workload == "lake_read":
        tables["orders"] = orders(rng, int(ROWS_PER_SF["orders"] * sf))
    elif workload == "corpus_ops":
        tables["documents"] = documents(rng, int(ROWS_PER_SF["documents"] * sf))
        tables["embeddings"] = embeddings(rng, int(ROWS_PER_SF["embeddings"] * sf))
    total = 0
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        total += raw_bytes(t)
    with open(os.path.join(out_dir, "user_bytes"), "w") as f:
        f.write(str(total))
    return total
