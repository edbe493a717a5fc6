"""Seeded input generator for the three benchmark workloads.

Everything here is numpy + pyarrow in the calling process; nothing touches
Spark.  The same ``seed`` always yields byte-identical tables, and each
generator returns the measured properties the workload promises (hot-key
share, duplicate shares, length distribution, batch layout) so they are
recorded next to every result.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- vocabulary ---------------------------------------------------------------

# Stopwords the engine's language_id / quality_score heuristics look for
# (operators/text.py); a document's language is the set it draws from.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pour"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "de", "para"],
}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
CJK = ["数据", "查询", "索引", "批处理", "流式", "分区"]
# the repo's fixed BM25 probe set (``__spark_entry__._bm25_queries``); its
# words lead the content vocabulary so every query matches documents
QUERIES = [(1, "spark window join"), (2, "fast hash merge"), (3, "stream batch sort")]
QUERY_WORDS = ["spark", "window", "join", "fast", "hash", "merge", "stream",
               "batch", "sort"]


def _content_vocab(size: int = 3000) -> np.ndarray:
    """Synthetic lowercase ASCII words (fixed, seed-independent): a wide
    vocabulary keeps unrelated documents' shingle sets nearly disjoint, so
    near-duplicates are the ones the generator plants."""
    rng = np.random.default_rng(12345)
    cons, vows = list("bdfgklmnprstvz"), list("aeiou")
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
    return np.array(QUERY_WORDS + sorted(words - set(QUERY_WORDS))[: size - len(QUERY_WORDS)])


VOCAB = _content_vocab()
_ZIPF_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
_ZIPF_P /= _ZIPF_P.sum()


def _doc_tokens(rng: np.random.Generator, lang: str, n: int) -> list[str]:
    words = list(rng.choice(VOCAB, size=n, p=_ZIPF_P))
    if lang in STOPWORDS:
        sw = STOPWORDS[lang]
        for i in rng.choice(n, size=max(1, n // 6), replace=False):
            words[i] = sw[int(rng.integers(len(sw)))]
    else:  # zh: CJK tokens make language_id say "zh"
        for i in rng.choice(n, size=max(1, n // 10), replace=False):
            words[i] = CJK[int(rng.integers(len(CJK)))]
    return words


def _near_copy(rng: np.random.Generator, words: list[str], edit: float) -> list[str]:
    out = list(words)
    k = max(1, int(round(len(out) * edit)))
    for i in rng.choice(len(out), size=min(k, len(out)), replace=False):
        out[i] = str(VOCAB[int(rng.integers(len(VOCAB)))])
    return out


def _docs(rng: np.random.Generator, n: int, exact: float, near: float,
          short: float, edit: float = 0.04) -> tuple[list[str], list[str], dict]:
    """``n`` documents in arrival order.  Each is, with the given shares,
    an exact copy of an earlier original, a near copy (``edit`` share of
    tokens replaced), or a fresh original; ``short`` of the originals are
    under 50 characters, which the quality filter drops unless English."""
    texts: list[str] = []
    langs: list[str] = []
    originals: list[int] = []
    kinds = rng.choice(3, size=n, p=[1 - exact - near, exact, near])
    counts = {"original": 0, "exact_dup": 0, "near_dup": 0, "short": 0}
    for i in range(n):
        kind = int(kinds[i]) if originals else 0
        if kind == 0:
            lang = str(rng.choice(LANGS, p=LANG_P))
            if rng.random() < short:
                ntok = int(rng.integers(3, 7))
                counts["short"] += 1
            else:
                ntok = int(np.clip(rng.lognormal(4.0, 0.45), 12, 400))
            words = _doc_tokens(rng, lang, ntok)
            originals.append(i)
            counts["original"] += 1
        else:
            src = originals[int(rng.integers(len(originals)))]
            lang = langs[src]
            words = texts[src].split(" ")
            if kind == 2:
                words = _near_copy(rng, words, edit)
                counts["near_dup"] += 1
            else:
                counts["exact_dup"] += 1
        texts.append(" ".join(words))
        langs.append(lang)
    lens = np.array([len(t) for t in texts])
    props = {
        "docs": n,
        "exact_dup_share": round(counts["exact_dup"] / n, 4),
        "near_dup_share": round(counts["near_dup"] / n, 4),
        "short_share": round(counts["short"] / n, 4),
        "chars_p10_p50_p90": [int(x) for x in np.percentile(lens, [10, 50, 90])],
    }
    return texts, langs, props


# -- migrate: TPC-H-shaped star schema ----------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_TAGS = 40


def _skewed_keys(rng: np.random.Generator, n: int, domain: int,
                 a: float) -> np.ndarray:
    """Keys in 1..domain with a Zipf(``a``) rank distribution over a
    seeded permutation, so the hot keys differ from seed to seed."""
    ranks = np.arange(1, domain + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    perm = rng.permutation(domain) + 1
    return perm[rng.choice(domain, size=n, p=p)]


def _hot_share(keys: np.ndarray, domain: int) -> float:
    """Share of rows that reference the hottest 1% of the key domain."""
    counts = np.bincount(keys, minlength=domain + 1)[1:]
    top = np.sort(counts)[::-1][: max(1, domain // 100)]
    return round(float(top.sum()) / len(keys), 4)


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One parquet file at ``path``, or a directory of ``files`` files."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def gen_migrate(seed: int, out: str, scale: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_part, n_supp = int(15000 * scale), int(20000 * scale), int(1000 * scale)
    n_orders = int(150000 * scale)
    os.makedirs(out, exist_ok=True)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    # legacy CHAR(16) names: the J1 rtrim lookup must still match them
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"{n:<16}" for n in NATIONS],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    s_nat = rng.integers(0, 25, n_supp)
    pad = rng.integers(0, 3, n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:06d}" for i in range(1, n_supp + 1)],
        "s_nation": [NATIONS[k] + " " * int(p) for k, p in zip(s_nat, pad)],
        "s_acctbal_cents": pa.array(rng.integers(-99_999, 999_999, n_supp), pa.int64()),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:07d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal_cents": pa.array(rng.integers(-99_999, 999_999, n_cust), pa.int64()),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    n_tags = rng.integers(0, 4, n_part)
    tags = [",".join(str(t) for t in sorted(rng.choice(N_TAGS, k, replace=False)))
            for k in n_tags]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_retailprice_cents": pa.array(rng.integers(900, 200_000, n_part), pa.int64()),
        "p_tags": tags,
    }), f"{out}/part.parquet")
    _write(pa.table({
        "t_tagkey": pa.array(range(N_TAGS), pa.int32()),
        "t_name": [f"tag-{i:02d}" for i in range(N_TAGS)],
    }), f"{out}/tag.parquet")
    # partsupp: each part has 4 suppliers; (part, supp) is unique
    ps_part = np.repeat(np.arange(1, n_part + 1), 4)
    ps_supp = ((ps_part * 7 + np.tile(np.arange(4), n_part) * (n_supp // 4 + 1))
               % n_supp) + 1
    _write(pa.table({
        "ps_partkey": pa.array(ps_part, pa.int64()),
        "ps_suppkey": pa.array(ps_supp, pa.int64()),
        "ps_supplycost_cents": pa.array(rng.integers(100, 100_000, len(ps_part)), pa.int64()),
    }), f"{out}/partsupp.parquet")

    o_cust = _skewed_keys(rng, n_orders, n_cust, a=0.8)
    d0 = date(1992, 1, 1)
    o_days = rng.integers(0, 2400, n_orders)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_orders)],
        "o_totalprice_cents": pa.array(rng.integers(1_000, 50_000_000, n_orders), pa.int64()),
        "o_orderdate": pa.array([d0 + timedelta(days=int(d)) for d in o_days], pa.date32()),
    }), f"{out}/orders.parquet", files=4)

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(1, n_orders + 1), lines)
    n_li = len(l_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = _skewed_keys(rng, n_li, n_part, a=0.6)
    # 97% of lines name one of the part's partsupp suppliers (J2 hit), the
    # rest a random supplier (J2 miss -> NULL)
    slot = rng.integers(0, 4, n_li)
    l_supp = ((l_part * 7 + slot * (n_supp // 4 + 1)) % n_supp) + 1
    miss = rng.random(n_li) < 0.03
    l_supp[miss] = rng.integers(1, n_supp + 1, int(miss.sum()))
    ship = np.repeat(o_days, lines) + rng.integers(1, 120, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(l_supp, pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li), pa.int64()),
        "l_extendedprice_cents": pa.array(rng.integers(100, 10_000_000, n_li), pa.int64()),
        "l_returnflag": [("A", "N", "R", "X")[k] for k in rng.choice(4, n_li, p=[.3, .4, .28, .02])],
        "l_shipdate": pa.array([d0 + timedelta(days=int(d)) for d in ship], pa.date32()),
    }), f"{out}/lineitem.parquet", files=6)

    return {
        "scale": scale,
        "rows": {"customer": n_cust, "orders": n_orders, "lineitem": n_li,
                 "part": n_part, "partsupp": len(ps_part), "supplier": n_supp},
        "source_rows": n_cust + n_orders + n_li + n_part + len(ps_part) + n_supp + 30 + N_TAGS,
        "hot_custkeys": [int(k) for k in np.argsort(np.bincount(o_cust))[::-1][:3]],
        "hot_key_share": {"orders.o_custkey": _hot_share(o_cust, n_cust),
                          "lineitem.l_partkey": _hot_share(l_part, n_part)},
        "files": {"orders": 4, "lineitem": 6, "other": 1},
    }


# -- corpus: one documents file -----------------------------------------------

def gen_corpus(seed: int, out: str, n_docs: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    texts, langs, props = _docs(rng, n_docs, exact=0.08, near=0.12, short=0.06)
    order = rng.permutation(n_docs)  # ids do not follow generation order
    ids = np.empty(n_docs, np.int64)
    ids[order] = np.arange(n_docs)
    os.makedirs(out, exist_ok=True)
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    props["files"] = 1
    return props


# -- ingest: many small batches -----------------------------------------------

def gen_ingest(seed: int, batches: int, batch_docs: int) -> tuple[list[pa.Table], dict]:
    """``batches`` tables of ``batch_docs`` documents each, ids increasing
    in arrival order; duplicates always copy a document that arrived
    earlier, so the gate's first arrival is the original."""
    rng = np.random.default_rng([seed, 3])
    n = batches * batch_docs
    texts, _, props = _docs(rng, n, exact=0.1, near=0.15, short=0.0, edit=0.05)
    out = []
    for b in range(batches):
        lo = b * batch_docs
        out.append(pa.table({
            "doc_id": pa.array(np.arange(lo, lo + batch_docs), pa.int64()),
            "text": texts[lo: lo + batch_docs],
        }))
    props.update({"batches_generated": batches, "batch_docs": batch_docs,
                  "files_per_batch": 1})
    return out, props
