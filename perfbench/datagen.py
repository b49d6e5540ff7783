"""Seeded input generators for the benchmark workloads.

Everything is a pure function of the seed (numpy ``default_rng``), so two
runs with one seed see byte-identical inputs. Two kinds of input:

* an image folder tree for the tagging workloads: random-byte payloads
  (the engine's fake decode tiles raw bytes, so any bytes are a valid
  "image"), mixed-case extensions, non-image noise files the extension
  filter must drop, and 2-byte truncated payloads that must come back as
  per-row ``status='error'``;
* the ten fixture tables the registry queries read (TPC-H-shape star
  schema plus events/documents/embeddings), with the column names, Arrow
  types and value domains of the fixture tables described in FIXTURES.md,
  scaled by ``sf``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

IMAGE_EXTS = ["jpg", "JPG", "jpeg", "JPEG", "png", "PNG", "webp", "bmp", "gif", "GIF"]
NOISE_EXTS = ["txt", "json", "db", "md"]
TRUNCATED_BYTES = 2  # below fake_decode_bytes' 4-byte minimum -> decode error


@dataclass
class ImageTree:
    root: str
    images: list[str] = field(default_factory=list)  # every image path
    truncated: set[str] = field(default_factory=set)  # subset expected to error
    noise_files: int = 0
    bytes: int = 0


def make_image_tree(
    root: str,
    seed: int,
    n_images: int,
    min_bytes: int,
    max_bytes: int,
    subdirs: int = 8,
    truncated_share: float = 0.01,
    noise_share: float = 0.05,
) -> ImageTree:
    """Write ``n_images`` image files (sizes log-uniform in
    [min_bytes, max_bytes]) spread over ``subdirs`` sub-directories.

    Basenames are unique across the whole tree: the sidecar sink writes
    ``<basename>.txt`` into ONE output directory, so two images sharing a
    stem would overwrite each other's sidecar.
    """
    rng = np.random.default_rng(seed)
    tree = ImageTree(root=root)
    dirs = [os.path.join(root, f"d{i}") for i in range(subdirs)]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    sizes = np.exp(rng.uniform(np.log(min_bytes), np.log(max_bytes), n_images)).astype(np.int64)
    n_trunc = max(1, round(n_images * truncated_share))
    trunc_idx = set(rng.choice(n_images, n_trunc, replace=False).tolist())
    pool = rng.integers(0, 256, int(sizes.max()) + 4096, dtype=np.uint8).tobytes()
    for i in range(n_images):
        ext = IMAGE_EXTS[int(rng.integers(len(IMAGE_EXTS)))]
        path = os.path.join(dirs[i % subdirs], f"img_{i:06d}.{ext}")
        if i in trunc_idx:
            payload = pool[:TRUNCATED_BYTES]
            tree.truncated.add(path)
        else:
            # A random window of one shared random pool: distinct content per
            # file without generating every byte afresh.
            off = int(rng.integers(0, 4096))
            payload = pool[off : off + int(sizes[i])]
        with open(path, "wb") as f:
            f.write(payload)
        tree.images.append(path)
        tree.bytes += len(payload)
    for j in range(round(n_images * noise_share)):
        ext = NOISE_EXTS[j % len(NOISE_EXTS)]
        with open(os.path.join(dirs[j % subdirs], f"noise_{j:06d}.{ext}"), "wb") as f:
            f.write(pool[j : j + 64])
        tree.noise_files += 1
    return tree


# --- fixture tables -------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<name>.parquet``.

    ``sf`` scales the star schema and events (lineitem ~6M x sf rows);
    documents and embeddings are sized separately, like the fixture tables
    of FIXTURES.md, whose text/vector tables do not follow ``sf``. Returns
    the row count of each table.
    """
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    rows: dict[str, int] = {}

    def put(name, cols, fields):
        _write(out_dir, name, cols, pa.schema(fields))
        rows[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
        [("r_regionkey", i32), ("r_name", s)])
    put("nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    put("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
        ("c_mktsegment", s)])
    put("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    put("part", {
        "p_partkey": np.arange(n_part),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
        ("p_retailprice", f64)])
    put("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
        ("o_orderdate", ts), ("o_orderpriority", s)])
    lines_per_order = rng.integers(1, 8, n_ord)
    n_line = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n_ord), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    put("lineitem", {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US,
    }, [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    put("events", {
        "event_id": np.arange(n_events),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events)),
        "user_id": rng.integers(0, max(15, n_events // 66), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
        ("props", s)])
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    # Near-duplicates (one word appended) and exact duplicates, so the
    # dedup family has real clusters to find.
    for i in rng.choice(n_docs, n_docs // 50, replace=False):
        texts[i] = texts[(i + 1) % n_docs] + " dup"
    for i in rng.choice(n_docs, max(2, n_docs // 600), replace=False):
        texts[i] = texts[(i + 7) % n_docs]
    put("documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }, [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.07, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vecs),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }, [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
    return rows
