"""Deterministic inputs for the benchmark, made from a seed.

Two generators:

- ``write_warehouse``: the ten parquet tables the registry queries read
  (TPC-H-ish star schema plus events, documents and embeddings), with
  the same schemas, physical types and value domains as the project's
  test data (TESTDATA.md). Documents carry planted near-duplicate families
  (a copy of an earlier document plus one word), so the banded
  candidate queries have pairs to find.
- ``DocStream``: the document batches the ``ingest_search`` workload
  sends to ``HiveEngine.ingest_batch``: skewed tenants, multi-chunk
  lengths, planted alert/rule/tag keywords, one unique phrase per
  golden document, and unchanged and changed re-sends. Every batch
  carries the expected outcomes the correctness checks compare to.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBEDDING_DIM = 64


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, span = _days(start, end)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            # near-duplicate family member: an earlier doc plus one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(DOC_VOCAB, int(rng.integers(8, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def warehouse_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (0.01 ≈ 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
        }
    )
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
            "o_orderdate": pa.array(
                _dates(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
        }
    )
    flags = rng.integers(0, 6, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags % 3], s),
            "l_linestatus": pa.array(np.array(["F", "O"])[flags // 3], s),
            "l_shipdate": pa.array(
                _dates(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us")
            ),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
            "value": pa.array(_money(rng, 0.01, 490.0, n_events), f64),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s
            ),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_emb, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_warehouse(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in warehouse_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- ingest

TENANTS = ["org0", "org1", "org2", "org3"]
TENANT_SHARE = [0.55, 0.25, 0.15, 0.05]
ALERT_KEYWORD = "CONFIDENTIAL"
RULE_KEYWORDS = ["pricing", "secret"]
TAG_KEYWORDS = ["legal", "finance", "urgent", "proposal"]
# every keyword the engine matches by substring; generated words must
# contain none of them, or plain text would trip a rule, tag or alert
_MATCHED = ["confidential", "pricing", "secret"] + TAG_KEYWORDS
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
GOLDEN_PER_BATCH = 2
UNCHANGED_SHARE = 0.15  # re-sends per new document, sent unchanged
CHANGED_SHARE = 0.10  # re-sends per new document, one sentence appended


def _word_list(rng: np.random.Generator, n: int, syllables: list[str]) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(syllables, int(rng.integers(2, 4))))
        if not any(k in w for k in _MATCHED):
            words.add(w)
    return sorted(words)


@dataclass
class Batch:
    """One ``ingest_batch`` input plus the outcomes it must produce."""

    rows: list[tuple]  # (path, content, organization_id, metadata)
    input_bytes: int
    fresh_paths: list[str]  # new docs and changed re-sends
    expected_chunks: int
    expected_alerts: int
    rule_docs: int  # fresh docs whose text holds a rule keyword
    golden: dict[str, tuple[str, str]] = field(default_factory=dict)
    # golden phrase -> (path, organization_id)


class DocStream:
    """Batches of drone documents, deterministic in ``seed``.

    Each batch holds new documents plus re-sends of documents from
    earlier batches: a share sent again unchanged (the engine must skip
    them) and a share sent again with one sentence appended (an
    update). ``chunker`` is the reference chunker the expected chunk
    counts are computed with.
    """

    def __init__(self, seed: int, chunker) -> None:
        self.rng = np.random.default_rng(seed)
        self.vocab = _word_list(self.rng, 400, _SYLLABLES)
        # Zipf-like word frequencies, as in natural text
        w = 1.0 / np.arange(1, len(self.vocab) + 1)
        self.word_p = w / w.sum()
        self.chunker = chunker
        # path -> (content, org) of every non-golden document sent so far
        self.sent: dict[str, tuple[str, str]] = {}
        self.n_batches = 0
        self.n_golden = 0

    def _sentence(self, plant: str | None = None) -> str:
        words = list(self.rng.choice(self.vocab, int(self.rng.integers(6, 18)),
                                     p=self.word_p))
        if plant is not None:
            words.insert(int(self.rng.integers(0, len(words) + 1)), plant)
        return " ".join(words).capitalize() + "."

    def _document(self) -> str:
        # 1-4 chunks: the sentence chunker cuts at 1000 characters
        n_sent = int(self.rng.integers(3, 40))
        sents = [self._sentence() for _ in range(n_sent)]
        if self.rng.random() < 0.1:  # alert keyword in the first sentence
            sents[0] = self._sentence(ALERT_KEYWORD)
        for kw in RULE_KEYWORDS + TAG_KEYWORDS:
            if self.rng.random() < 0.06:
                i = int(self.rng.integers(0, n_sent))
                sents[i] = self._sentence(kw)
        return " ".join(sents)

    def _golden(self) -> tuple[str, str]:
        # three words no other document holds: "zx" never starts a
        # generated word, and the counter makes the phrase unique
        g = self.n_golden
        self.n_golden += 1
        phrase = " ".join(
            f"zx{_SYLLABLES[(g * 7 + k * 13) % len(_SYLLABLES)]}{g}q{k}"
            for k in range(3)
        )
        return phrase, f"{phrase.capitalize()}. {phrase.capitalize()}."

    def next_batch(self, n_new: int) -> Batch:
        b = self.n_batches
        self.n_batches += 1
        rows: list[tuple] = []
        fresh: dict[str, str] = {}
        golden: dict[str, tuple[str, str]] = {}
        orgs = self.rng.choice(TENANTS, n_new, p=TENANT_SHARE)
        for i in range(n_new):
            path = f"/watch/b{b:04d}/doc{i:04d}.txt"
            org = str(orgs[i])
            if i < GOLDEN_PER_BATCH:
                # golden docs take the tenants in turn, so every run
                # searches the same mix of tenant partition sizes
                org = TENANTS[self.n_golden % len(TENANTS)]
                phrase, content = self._golden()
                golden[phrase] = (path, org)
            else:
                content = self._document()
            rows.append((path, content, org))
            fresh[path] = content
        if self.sent:
            old = sorted(self.sent)
            k_un = round(UNCHANGED_SHARE * n_new)
            k_ch = round(CHANGED_SHARE * n_new)
            picks = self.rng.choice(len(old), min(len(old), k_un + k_ch),
                                    replace=False)
            for j, p in enumerate(picks):
                path = old[int(p)]
                content, org = self.sent[path]
                if j >= k_un:  # changed re-send: one sentence appended
                    content = content + " " + self._sentence()
                    fresh[path] = content
                rows.append((path, content, org))
        for path, content, org in rows:
            if path not in {p for p, _ in golden.values()}:
                self.sent[path] = (content, org)
        rows = [(p, c, o, {"filetype": "txt"}) for p, c, o in rows]
        chunks = {p: self.chunker(c) for p, c in fresh.items()}
        return Batch(
            rows=rows,
            input_bytes=sum(len(c.encode()) for _, c, _, _ in rows),
            fresh_paths=sorted(fresh),
            expected_chunks=sum(len(c) for c in chunks.values()),
            expected_alerts=sum(
                1 for c in chunks.values() if c and ALERT_KEYWORD in c[0].upper()
            ),
            rule_docs=sum(
                1
                for c in fresh.values()
                if any(k in c.lower() for k in ("confidential", *RULE_KEYWORDS))
            ),
            golden=golden,
        )
