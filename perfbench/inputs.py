"""Seeded input generators for the benchmark.

Everything the engine sees is made here from ``--seed``: fixture-shaped
parquet tables (the ten catalog tables, with the schemas and value domains
described in FIXTURES.md), the near-duplicate curation corpus, the SQL
statement stream, and the pandas frames of the ingest workload. The same
seed gives the same inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "cold", "red", "green", "dark", "pale", "bright", "steel", "ivory", "amber")
NOUNS = ("widget", "anvil", "gear", "spring", "valve", "bolt", "lever", "rotor", "flange", "socket")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.39, 0.16, 0.15, 0.15, 0.15)
VOCAB = (
    "join", "filter", "window", "shuffle", "partition", "stage", "task", "plan",
    "scan", "sort", "merge", "cache", "spill", "batch", "stream", "state",
    "schema", "column", "row", "query", "the", "to", "of", "and", "that",
    "with", "be", "have", "data", "table",
)
TAGS = ("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

#: Row counts of the two fixture scales the workloads use (FIXTURES.md).
SCALES = {
    "sf0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                   events=10_000, documents=500, embeddings=500),
    "corpus": dict(customer=150, supplier=10, part=1_000, orders=1_500,
                   events=1_000, documents=300, embeddings=300),
}
EMBED_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "ms") + offsets.astype("timedelta64[D]")).astype("datetime64[ms]")


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    n_words = rng.integers(6, 81, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    out, pos = [], 0
    for k in n_words:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def random_embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ten cluster centres; returns (vectors, labels)."""
    centres = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def _near_duplicates(rng: np.random.Generator, texts: list[str], vecs: np.ndarray,
                     share: float) -> tuple[list[str], np.ndarray]:
    """Replace a ``share`` of rows by near copies of other rows.

    A text copy is exact or gains one trailing word, so its word-3-gram
    Jaccard to the source is 1 or at least 10/11: far above the 0.7 dedup
    threshold, where banded MinHash recall is exact. A vector copy adds 1%
    noise, so its cosine to the source is about 0.9999.
    """
    n = len(texts)
    n_dup = int(round(share * n))
    long_rows = np.flatnonzero([t.count(" ") >= 11 for t in texts])
    targets = rng.choice(n, n_dup, replace=False)
    sources = rng.choice(np.setdiff1d(long_rows, targets), n_dup)
    texts = list(texts)
    vecs = vecs.copy()
    for t, s in zip(targets, sources):
        extra = "" if rng.random() < 0.3 else " " + VOCAB[rng.integers(len(VOCAB))]
        texts[t] = texts[s] + extra
        v = vecs[s] + rng.normal(scale=0.01 / np.sqrt(EMBED_DIM), size=EMBED_DIM)
        vecs[t] = v / np.linalg.norm(v)
    return texts, vecs


def write_fixtures(out_dir: str, seed: int, scale: str, near_dup_share: float = 0.0) -> dict[str, int]:
    """Write the ten fixture tables at ``scale`` under ``out_dir``.

    ``near_dup_share`` > 0 turns documents/embeddings into a curation corpus
    with that share of near-duplicate rows. Returns row counts per table.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SCALES[scale]
    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": list(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                               "n_regionkey": (nk % 5).astype(np.int32)})
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 10, npart), rng.integers(0, 10, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + pk / 10.0 + rng.random(npart),
    })
    no = n["orders"]
    odate_off = rng.integers(0, 2404, no)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": rng.uniform(900.0, 400_000.0, no),
        "o_orderdate": _days("1995-01-01", odate_off),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    l_num = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": qty * rng.uniform(900.0, 2100.0, nl),
        "l_discount": rng.uniform(0.0, 0.1, nl),
        "l_tax": rng.uniform(0.0, 0.08, nl),
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-02", np.repeat(odate_off, lines) + rng.integers(0, 121, nl)),
    })
    ne = n["events"]
    gaps = rng.integers(1, 2 * 2_592_000_000_000 // ne, ne)
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(15, nc // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": rng.uniform(0.0, 200.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd, nv = n["documents"], n["embeddings"]
    texts = random_texts(rng, nd)
    vecs, labels = random_embeddings(rng, max(nd, nv))
    if near_dup_share > 0:
        texts, vecs = _near_duplicates(rng, texts, vecs, near_dup_share)
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": rng.integers(40, 600, nd).astype(np.int64),
    })
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs[:nv].ravel()), EMBED_DIM)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": labels[:nv],
    })
    return {"orders": no, "lineitem": nl, "events": ne, "documents": nd, "embeddings": nv,
            "customer": nc, "part": npart}


# ---------------------------------------------------------------------------
# sql_mix statement stream
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Statement:
    template: str
    dialect: str | None  # None = Spark SQL
    text: str


def _date(rng: np.random.Generator, lo: str = "1996-01-01", span_days: int = 1800) -> str:
    return str(np.datetime64(lo) + np.timedelta64(int(rng.integers(0, span_days)), "D"))


def _reach_depth(a: int, reg: int, m: int) -> int:
    """Fixpoint iterations of ``recursive_cte_reachability`` for its literals
    (nation n has region n % 5, as the generated fixtures have it)."""
    edges = {n: set() for n in range(25)}
    for n in range(min(m, 25)):
        edges[n].add((n * a + 1) % 25)
        if n % 2 == 0:
            edges[n].add((n + 7) % 25)
    reach = delta = {(n, n) for n in range(25) if n % 5 == reg}
    depth = 1
    while delta:
        delta = {(o, d) for o, node in delta for d in edges[node]} - reach
        reach = reach | delta
        depth += 1
    return depth


#: Literals of the reachability template whose recursion takes the same
#: number of iterations, so the seed varies the statement and not its depth.
_REACH_LITERALS = [(a, reg, m) for a in range(2, 7) for reg in range(5) for m in range(8, 14)
                   if _reach_depth(a, reg, m) == 4]

#: (name, dialect, weight, text template, literal drawer). The DuckDB-dialect
#: texts are the oracled catalog shapes (the seven "bench"-tagged entries,
#: plus windows and recursion) with their literals opened up; the Spark SQL
#: texts are valid in both engines as written.
_TEMPLATES = (
    ("q1_pricing_summary", "duckdb", 2, """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{d}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus""",
     lambda r: {"d": _date(r)}),
    ("q3_shipping_priority", "duckdb", 2, """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d}'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10""",
     lambda r: {"seg": SEGMENTS[r.integers(5)], "d": _date(r)}),
    ("q5_local_supplier_volume", "duckdb", 2, """
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{reg}' AND o.o_orderdate >= TIMESTAMP '{d}'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name""",
     lambda r: {"reg": REGIONS[r.integers(5)], "d": _date(r, "1995-01-01", 900)}),
    ("window_top3_orders_per_customer", "duckdb", 2, """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders WHERE o_orderpriority = '{pri}') t
    WHERE rn <= {k} ORDER BY o_custkey, rn""",
     lambda r: {"pri": PRIORITIES[r.integers(5)], "k": int(r.integers(1, 4))}),
    ("events_hourly", "duckdb", 2, """
    SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n,
           round(sum(value), 2) AS v
    FROM events WHERE value >= {v} GROUP BY 1, 2 ORDER BY 1, 2""",
     lambda r: {"v": round(float(r.uniform(0, 150)), 1)}),
    ("json_props_avg", "duckdb", 2, """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
    FROM events WHERE value < {v} GROUP BY event_type ORDER BY event_type""",
     lambda r: {"v": round(float(r.uniform(20, 200)), 1)}),
    ("cosine_top20_pairs", "duckdb", 2, """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.label = {lab} AND b.label = {lab}
    ORDER BY sim DESC, id_a, id_b LIMIT 20""",
     lambda r: {"lab": int(r.integers(10))}),
    ("spark_flag_quantity", None, 2, """
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty,
           round(avg(l_discount), 4) AS avg_disc
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '{d}' AND TIMESTAMP '{d}' + INTERVAL 90 DAYS
    GROUP BY l_returnflag ORDER BY l_returnflag""",
     lambda r: {"d": _date(r)}),
    ("spark_priority_rank", None, 1, """
    SELECT o_orderpriority, o_orderkey, r FROM (
      SELECT o_orderpriority, o_orderkey,
             dense_rank() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS r
      FROM orders WHERE o_orderstatus = '{st}') t
    WHERE r <= 5 ORDER BY o_orderpriority, r""",
     lambda r: {"st": ("F", "O", "P")[r.integers(3)]}),
    ("recursive_cte_reachability", "duckdb", 2, """
    WITH RECURSIVE edges AS (
      SELECT n_nationkey AS src, (n_nationkey * {a} + 1) % 25 AS dst FROM nation
      WHERE n_nationkey < {m}
      UNION ALL
      SELECT n_nationkey, (n_nationkey + 7) % 25 FROM nation
      WHERE n_nationkey % 2 = 0 AND n_nationkey < {m}),
    reach(origin, node) AS (
      SELECT n_nationkey, n_nationkey FROM nation WHERE n_regionkey = {reg}
      UNION
      SELECT r.origin, e.dst FROM reach r JOIN edges e ON r.node = e.src)
    SELECT origin, count(*) AS n_reachable, min(node) AS lo, max(node) AS hi
    FROM reach GROUP BY origin ORDER BY origin""",
     lambda r: dict(zip(("a", "reg", "m"), _REACH_LITERALS[r.integers(len(_REACH_LITERALS))]))),
    ("recursive_cte_hierarchy", "duckdb", 2, """
    WITH RECURSIVE anc(pkey, anc_key, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey % {m} = 1
      UNION ALL
      SELECT a.pkey, a.anc_key // 2, a.depth + 1 FROM anc a WHERE a.anc_key > 1)
    SELECT pkey, max(depth) AS height, min(anc_key) AS root
    FROM anc GROUP BY pkey ORDER BY pkey""",
     lambda r: {"m": int((89, 97, 101, 103, 107)[r.integers(5)])}),
)


class StatementStream:
    """Seeded sql_mix stream, dealt in decks: one deck holds every template
    as many times as its weight, in a seeded order, so every run sees the
    same mix. In each deck a fixed number of cards, ``repeat_share`` of the
    deck (itself drawn from the seed), repeat an earlier statement of their
    template exactly; the others draw fresh literals. :meth:`warmup` gives
    one statement per template to run before measuring; they count as
    earlier statements."""

    deck_size = sum(t[2] for t in _TEMPLATES)

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.repeat_share = float(self.rng.uniform(0.33, 0.38))
        self.history: dict[int, list[Statement]] = {}
        self._deck: list[tuple[int, bool]] = []

    def _fresh(self, card: int, rng: np.random.Generator) -> Statement:
        name, dialect, _, text, draw = _TEMPLATES[card]
        st = Statement(name, dialect, text.format(**draw(rng)))
        self.history.setdefault(card, []).append(st)
        return st

    def warmup(self) -> list[Statement]:
        rng = np.random.default_rng([self.rng.integers(2**32), 1])
        return [self._fresh(card, rng) for card in range(len(_TEMPLATES))]

    def next(self) -> Statement:
        if not self._deck:
            cards = [i for i, t in enumerate(_TEMPLATES) for _ in range(t[2])]
            self.rng.shuffle(cards)
            repeats = set(self.rng.choice(self.deck_size, round(self.repeat_share * self.deck_size),
                                          replace=False).tolist())
            self._deck = [(card, pos in repeats) for pos, card in enumerate(cards)]
        card, repeat = self._deck.pop()
        earlier = self.history.get(card)
        if repeat and earlier:
            return earlier[int(self.rng.integers(len(earlier)))]
        return self._fresh(card, self.rng)


# ---------------------------------------------------------------------------
# ingest_roundtrip frames
# ---------------------------------------------------------------------------

INGEST_SQL = {
    # a few rows out
    "agg": """
    SELECT c.c_mktsegment, f.tag, count(*) AS n, round(sum(f.amount), 2) AS s,
           max(f.ts) AS last_ts
    FROM ingest f JOIN customer c ON f.ckey = c.c_custkey
    GROUP BY c.c_mktsegment, f.tag""",
    # about as many rows out as in
    "join": """
    SELECT f.okey, f.tag, f.amount, f.ts, o.o_orderstatus, o.o_totalprice
    FROM ingest f LEFT JOIN orders o ON f.okey = o.o_orderkey""",
}
STREAM_SQL = """
    SELECT tag, count(*) AS n, round(sum(amount), 2) AS s, count(amount) AS n_amount
    FROM ingest_stream GROUP BY tag"""


class FrameStream:
    """Seeded ingest frames, dealt in decks of ``deck_size``: row counts are
    log-spread over [10, 30000], one frame near the middle of each of the
    deck's log-strata; half the frames take each query kind, and a seeded
    share of amounts, tags and timestamps is NULL; keys sometimes miss the
    fixture tables. Every ``append_every``-th frame also feeds the parquet
    stream."""

    deck_size = 4

    def __init__(self, seed: int, n_orders: int, n_customers: int):
        self.rng = np.random.default_rng(seed)
        self.null_share = float(self.rng.uniform(0.02, 0.2))
        # at most deck_size, so every deck drains the stream at least once
        self.append_every = int(self.rng.integers(2, self.deck_size + 1))
        self.n_orders, self.n_customers = n_orders, n_customers
        self.i = 0
        self._deck: list[tuple[int, str]] = []

    def _deal(self) -> None:
        r, k = self.rng, self.deck_size
        logs = 1 + np.log10(3_000) * (np.arange(k) + 0.45 + 0.1 * r.random(k)) / k
        # each pair of neighbouring strata gets one query of each kind
        kinds = [kind for _ in range(k // 2) for kind in r.permutation(["agg", "join"])]
        deck = [(int(10 ** x), str(kind)) for x, kind in zip(logs, kinds)]
        self._deck = [deck[i] for i in r.permutation(k)]

    def next(self) -> tuple[pd.DataFrame, str, bool]:
        if not self._deck:
            self._deal()
        n, kind = self._deck.pop()
        r = self.rng
        amount = r.uniform(-50, 500, n)
        amount[r.random(n) < self.null_share] = np.nan
        tags = np.array(TAGS, dtype=object)[r.integers(0, len(TAGS), n)]
        tags[r.random(n) < self.null_share] = None
        ts = np.datetime64("2024-01-01", "us") + r.integers(0, 86_400_000_000 * 30, n).astype("timedelta64[us]")
        ts = pd.Series(ts)
        ts[r.random(n) < self.null_share] = pd.NaT
        frame = pd.DataFrame({
            "okey": r.integers(0, int(self.n_orders * 1.1), n).astype(np.int64),
            "ckey": r.integers(0, self.n_customers, n).astype(np.int64),
            "amount": amount,
            "tag": tags,
            "ts": ts,
        })
        self.i += 1
        return frame, kind, self.i % self.append_every == 0
