"""Seeded input generator for the benchmark workloads.

Every table has the schema, physical types and value domains of the
TPC-H-style test tables the catalog queries are written against
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), and the opinion-mining corpus has the IMDB
layout (train/pos, train/neg, test; one review per file).

Sizes and key uniqueness depend only on the scale argument; the seed
changes content and row order. The same (seed, scale) gives
byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (the sf0.1 test tables).
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "red", "new", "small", "cold", "old", "shiny"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rows(table, scale):
    return max(1, int(round(BASE_ROWS[table] * scale)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _days(rng, start_us, ndays, n):
    return (start_us + rng.integers(0, ndays, n) * US_PER_DAY).astype("datetime64[us]")


def make_tables(seed, scale):
    """Return {name: pyarrow.Table} for the ten catalog tables."""
    rng = np.random.default_rng(seed)
    n = {t: rows(t, scale) for t in BASE_ROWS}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(k))})
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k))})
    k = np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": _pick(rng, names, len(k)),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], len(k)),
        "p_type": _pick(rng, PART_TYPES, len(k)),
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
        "o_orderdate": _days(rng, EPOCH_1995, 2404, len(k)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(k))})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, EPOCH_1995 + US_PER_DAY, 2498, m)})
    m = n["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, m))
    out["events"] = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(1500 * scale)), m),
        "event_type": _pick(rng, EVENT_TYPES, m),
        "value": np.round(np.minimum(rng.exponential(50.0, m), 560.0), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]})
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    # Key columns keep their values; only the physical row order moves.
    return {t: tab if t in ("region", "nation") else _shuffled(rng, tab)
            for t, tab in out.items()}


def _documents(rng, m):
    """Short texts over a 30-word vocabulary. About 5% of documents are an
    earlier document plus the token 'dup' (near-duplicate clusters) and a
    handful are exact copies, as in the test tables."""
    lens = rng.integers(10, 101, m)
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), L)]) for L in lens]
    for i in np.flatnonzero(rng.random(m) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, m), min(8, m - 1), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(m, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, m, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write_tables(out_dir, seed, scale):
    """Write the ten tables as `<out_dir>/<name>.parquet`, plus the
    seed-independent `probe.parquet`. Returns the bytes of the ten tables."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path, compression="snappy")
        total += os.path.getsize(path)
    write_probe(out_dir)
    return total


def write_probe(out_dir):
    """A fixed file (same bytes for every seed) for the host I/O probe."""
    pq.write_table(make_tables(0, 0.25)["lineitem"],
                   os.path.join(out_dir, "probe.parquet"), compression="snappy")


# ------------------------------------------------------ opinion corpus

POS_WORDS = ("good great excellent wonderful superb brilliant moving enjoyable "
             "beautiful perfect charming funny clever fresh touching").split()
NEG_WORDS = ("bad awful terrible boring poor dull weak stupid horrible "
             "predictable annoying lame bland messy tedious").split()
NOUNS = ("movie film plot story acting cast script director scene ending "
         "music camera character dialogue performance").split()
FILLER = ("the a this that it was is and but with very really quite so "
          "of in for on at").split()
TEMPLATES = [
    "the {n} was {adv} {adj} .",
    "i thought the {n} was {adj} and the {n2} {verb} {adj2} .",
    "this is a {adj} {n} with a {adj2} {n2} .",
    "the {n} {verb} {adv} {adj} , {f} the {n2} was {adj2} .",
    "{f} {f2} {n} , {f} {adj} {n2} .",
]


def _review(rng, positive):
    own, other = (POS_WORDS, NEG_WORDS) if positive else (NEG_WORDS, POS_WORDS)

    def adj():
        # 85% of opinion words agree with the label, so every variant can learn it
        return own[rng.integers(len(own))] if rng.random() < 0.85 \
            else other[rng.integers(len(other))]

    def w(pool):
        return pool[rng.integers(len(pool))]

    sents = []
    for _ in range(rng.integers(4, 12)):
        t = TEMPLATES[rng.integers(len(TEMPLATES))]
        sents.append(t.format(n=w(NOUNS), n2=w(NOUNS), adj=adj(), adj2=adj(),
                              adv=w(["very", "really", "quite", "so"]),
                              verb=w(["was", "is", "seemed", "felt"]),
                              f=w(FILLER), f2=w(FILLER)))
    return " ".join(sents)


def write_corpus(out_dir, seed, n_labeled, n_unlabeled):
    """IMDB layout: train/pos/<id>_<rating>.txt, train/neg/..., test/<id>.txt,
    plus the host probe file. Returns (bytes written, unlabeled ids)."""
    rng = np.random.default_rng(seed)
    total = 0
    for sub in ("train/pos", "train/neg", "test"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    write_probe(out_dir)

    def put(path, text):
        nonlocal total
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        total += len(text.encode("utf-8"))

    half = n_labeled // 2
    for label, sub, ratings in ((True, "pos", (7, 11)), (False, "neg", (1, 5))):
        for i in range(half):
            rating = rng.integers(*ratings)
            put(os.path.join(out_dir, "train", sub, f"{i}_{rating}.txt"),
                _review(rng, label))
    ids = [f"{i:05d}" for i in range(n_unlabeled)]
    for i in ids:
        put(os.path.join(out_dir, "test", f"{i}.txt"), _review(rng, rng.random() < 0.5))
    return total, ids
