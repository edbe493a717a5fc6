"""Untimed output checks: DuckDB recomputes each workload's final tables
from the same generated inputs, and every written table is compared to
its recomputation by row count plus an order-insensitive hash.  The
corpus and ingest checks reuse the repo's oracle SQL
(``__spark_entry__``) for the stages that have one.
"""

from __future__ import annotations

import os

import duckdb

import __spark_entry__ as entry


def _canon(con, rel: str) -> list[str]:
    """Per-column canonical text: doubles at 6 decimals, NULL as \\N."""
    cols = con.execute(f"DESCRIBE {rel}").fetchall()
    out = []
    for name, typ, *_ in cols:
        q = f'"{name}"'
        expr = f"printf('%.6f', {q})" if typ in ("DOUBLE", "FLOAT") else f"CAST({q} AS VARCHAR)"
        out.append(f"COALESCE({expr}, '\\N')")
    return out


def fingerprint(con, rel: str, cols: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive hash) of ``cols`` of relation ``rel``."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW __fp AS SELECT {', '.join(cols)} FROM {rel}")
    parts = " || '|' || ".join(_canon(con, "__fp"))
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({parts})::HUGEINT), 0) FROM __fp").fetchone()
    return int(n), int(h)


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def _table(path: str) -> str:
    """A table written by Spark (directory) or by pyarrow (single file)."""
    return _parquet(path) if os.path.isdir(path) else f"read_parquet('{path}')"


# -- migrate ------------------------------------------------------------------

_DIM_NATION = """
SELECT n.n_nationkey AS nationkey, rtrim(n.n_name) AS nation_name,
       COALESCE(r.r_name, 'unknown') AS region_name
FROM nation n
LEFT JOIN (SELECT r_regionkey, max(r_name) AS r_name FROM region GROUP BY 1) r
       ON r.r_regionkey = n.n_regionkey
"""
_DIM_CUSTOMER = f"""
WITH dn AS ({_DIM_NATION}),
o AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice_cents) AS s
      FROM orders GROUP BY 1)
SELECT c.c_custkey AS custkey, concat(c.c_name, '#', c.c_custkey) AS cust_name,
       c.c_mktsegment AS segment, COALESCE(dn.nation_name, 'unknown') AS nation_name,
       COALESCE(o.n, 0) AS n_orders, COALESCE(o.s, 0) AS spent_cents
FROM customer c
LEFT JOIN (SELECT nationkey, max(nation_name) AS nation_name FROM dn GROUP BY 1) dn
       ON dn.nationkey = c.c_nationkey
LEFT JOIN o ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'HOUSEHOLD', 'MACHINERY')
  AND c.c_acctbal_cents BETWEEN -50000 AND 900000 AND c.c_name IS NOT NULL
"""
_FACT_ORDERS = f"""
WITH dc AS ({_DIM_CUSTOMER}),
l AS (SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS q FROM lineitem GROUP BY 1)
SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey, o.o_orderdate AS orderdate,
       o.o_totalprice_cents AS total_cents, COALESCE(dc.segment, 'NONE') AS segment,
       COALESCE(l.n, 0) AS n_lines, COALESCE(l.q, 0) AS qty
FROM orders o
LEFT JOIN (SELECT custkey, max(segment) AS segment FROM dc GROUP BY 1) dc
       ON dc.custkey = o.o_custkey
LEFT JOIN l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate > DATE '1992-02-29' AND o.o_orderstatus <> 'P'
"""
MIGRATE_SQL = {
    "dim_nation": _DIM_NATION,
    "dim_supplier": """
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name, COALESCE(n.k, -1) AS nationkey
FROM supplier s
LEFT JOIN (SELECT rtrim(n_name) AS nm, max(n_nationkey) AS k FROM nation GROUP BY 1) n
       ON n.nm = rtrim(s.s_nation)
WHERE s.s_acctbal_cents > -50000
""",
    "dim_customer": _DIM_CUSTOMER,
    "fact_orders": _FACT_ORDERS,
    "fact_lineitem": f"""
WITH fo AS ({_FACT_ORDERS})
SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber, l.l_partkey AS partkey,
       l.l_suppkey AS suppkey, l.l_quantity AS qty, l.l_extendedprice_cents AS price_cents,
       ps.c AS supplycost_cents, fo.d AS orderdate
FROM lineitem l
LEFT JOIN (SELECT ps_partkey, ps_suppkey, max(ps_supplycost_cents) AS c
           FROM partsupp GROUP BY 1, 2) ps
       ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
LEFT JOIN (SELECT orderkey, max(orderdate) AS d FROM fo GROUP BY 1) fo
       ON fo.orderkey = l.l_orderkey
WHERE l.l_returnflag IN ('A', 'N', 'R') AND l.l_shipdate > DATE '1992-02-01'
""",
    "part_tags": """
SELECT p.p_partkey AS part_id, t.t_name AS tag_name
FROM part p, unnest(string_split(trim(p.p_tags), ',')) AS u(tk)
JOIN tag t ON t.t_tagkey = TRY_CAST(trim(u.tk) AS INTEGER)
WHERE trim(p.p_tags) <> '' AND trim(u.tk) <> ''
""",
}


class Checker:
    """Expected fingerprints for one workload's generated inputs, computed
    once; ``mismatches`` compares one iteration's written output to them."""

    def __init__(self, workload, iterations: int):
        self.wl = workload
        self.iterations = iterations
        self.con = duckdb.connect()
        self.expected: dict[str, tuple[list[str], tuple[int, int]]] = {}
        getattr(self, f"_expect_{workload.name}")()

    def close(self) -> None:
        self.con.close()

    def _expect(self, table: str, rel: str) -> None:
        cols = [c[0] for c in self.con.execute(f"DESCRIBE {rel}").fetchall()]
        self.expected[table] = (cols, fingerprint(self.con, rel, cols))

    def mismatches(self, out_root: str) -> list[str]:
        """Tables under ``out_root`` whose fingerprint differs from the
        recomputation (a missing or unreadable table counts)."""
        bad = []
        for table, (cols, want) in self.expected.items():
            try:
                got = fingerprint(self.con, _table(f"{out_root}/{table}.parquet"),
                                  [f'"{c}"' for c in cols])
            except duckdb.Error:
                got = None
            if got != want:
                bad.append(table)
        return bad

    # -- per workload ------------------------------------------------------
    def _expect_migrate(self) -> None:
        for f in os.listdir(self.wl.inputs):
            self.con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                             f"SELECT * FROM {_table(f'{self.wl.inputs}/{f}')}")
        for table, sql in MIGRATE_SQL.items():
            self.con.execute(f"CREATE TABLE exp_{table} AS {sql}")
            self._expect(table, f"exp_{table}")

    def _expect_corpus(self) -> None:
        c = self.con
        c.execute(f"CREATE TABLE raw AS SELECT * FROM '{self.wl.inputs}/documents.parquet'")
        # stage 1 (language_id, quality_score, filter, exact_dedup): the
        # repo's doc_pipeline oracle, joined back for text and n_chars
        c.execute("CREATE VIEW documents AS SELECT * FROM raw")
        c.execute(f"""CREATE TABLE stage1 AS
            SELECT r.doc_id, r.text, r.lang, p.lang_pred, p.quality, r.n_chars
            FROM ({entry.SQL_DOC_PIPELINE}) p JOIN raw r USING (doc_id)""")
        # stage 2 (pairs -> clusters -> keep best): the repo's dedup_best
        # oracle, same n / threshold / max_df / ranking as the workload
        c.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM stage1")
        c.execute(f"""CREATE TABLE exp_corpus_clean AS
            SELECT s.doc_id, s.text, s.lang, s.lang_pred, s.quality, s.n_chars
            FROM stage1 s JOIN ({entry.SQL_DEDUP_BEST}) k USING (doc_id)""")
        self._expect("corpus_clean", "exp_corpus_clean")

    def _expect_ingest(self) -> None:
        """Gate decisions replayed batch by batch over DuckDB-computed
        similar pairs (exact 3-shingle Jaccard >= 0.5), then the clean
        table, the BM25 postings and stats, and every search's top-10
        over the documents accepted so far."""
        import pyarrow as pa

        c = self.con
        landed = self.wl.feed_batches[: self.iterations]
        if not landed:
            return
        docs = pa.concat_tables([
            t.append_column("batch", pa.array([b] * t.num_rows, pa.int32()))
            for b, t in enumerate(landed)])
        c.register("docs_arrow", docs)
        c.execute("CREATE TABLE alldocs AS SELECT * FROM docs_arrow")
        c.execute("CREATE VIEW documents AS SELECT doc_id, text FROM alldocs")
        c.execute(f"""CREATE TABLE pairs AS
            WITH sh AS ({entry._SQL_SHINGLES}),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            n AS (SELECT doc_id, len(shingles) AS n FROM sh),
            i AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
                  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
            SELECT i.a, i.b FROM i JOIN n na ON na.doc_id = i.a
                                   JOIN n nb ON nb.doc_id = i.b
            WHERE i.i / (na.n + nb.n - i.i) >= 0.5""")
        similar: dict[int, set[int]] = {}
        for a, b in c.execute("SELECT a, b FROM pairs").fetchall():
            similar.setdefault(a, set()).add(b)
            similar.setdefault(b, set()).add(a)
        batch_of = dict(c.execute("SELECT doc_id, batch FROM alldocs").fetchall())
        accepted: set[int] = set()
        accepted_by_batch = []
        for b in range(len(landed)):
            mine = [d for d, bb in batch_of.items() if bb == b]
            keep = [d for d in mine
                    if not any(p in accepted or (batch_of[p] == b and p < d)
                               for p in similar.get(d, ()))]
            accepted |= set(keep)
            accepted_by_batch.append(set(accepted))
        c.execute("CREATE TABLE acc (doc_id BIGINT)")
        c.executemany("INSERT INTO acc VALUES (?)", [(d,) for d in sorted(accepted)])
        c.execute("""CREATE TABLE exp_clean AS
            SELECT d.doc_id, d.text FROM alldocs d JOIN acc USING (doc_id)""")
        self._expect("clean", "exp_clean")
        c.execute("""CREATE TABLE exp_idx AS
            WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
                                                                    '\\s+')) AS token
                          FROM exp_clean),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                   WHERE token <> '' GROUP BY 1, 2)
            SELECT token, doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl FROM tf""")
        self._expect("idx", "exp_idx")
        c.execute("""CREATE TABLE exp_idx_stats AS
            SELECT token, count(*) AS df,
                   (SELECT count(DISTINCT doc_id) FROM exp_idx) AS n_docs,
                   (SELECT sum(dl) FROM (SELECT DISTINCT doc_id, dl FROM exp_idx)) AS sum_dl,
                   (SELECT count(*) FROM exp_idx) AS n_postings
            FROM exp_idx GROUP BY token""")
        self._expect("idx_stats", "exp_idx_stats")
        self.search_expected: list[list[tuple]] = []
        for acc in accepted_by_batch:
            c.execute("CREATE OR REPLACE TABLE acc_b (doc_id BIGINT)")
            c.executemany("INSERT INTO acc_b VALUES (?)", [(d,) for d in sorted(acc)])
            c.execute("""CREATE OR REPLACE VIEW documents AS
                SELECT d.doc_id, d.text FROM alldocs d JOIN acc_b USING (doc_id)""")
            self.search_expected.append(sorted(
                (q, d, rank, score)
                for q, d, score, rank in c.execute(entry.SQL_BM25_SEARCH).fetchall()))

    def search_ok(self, key: tuple, got) -> bool:
        """One search's normalized result against its recomputation."""
        kind, arg = key[0], key[1:]
        if kind == "orders_of":
            want = self.con.execute(
                "SELECT count(*), sum(total_cents) FROM exp_fact_orders WHERE custkey = ?",
                [arg[0]]).fetchone()
            return tuple(got) == tuple(int(x) for x in want)
        if kind == "docs_between":
            want = self.con.execute(
                "SELECT doc_id, text FROM exp_corpus_clean WHERE doc_id BETWEEN ? AND ?",
                list(arg)).fetchall()
            return sorted(got) == sorted(want)
        # "bm25": each query's top-10 over the documents accepted through batch
        want = self.search_expected[arg[0]]
        return len(got) == len(want) and all(
            g[:3] == w[:3] and abs(g[3] - w[3]) <= 2e-6 for g, w in zip(sorted(got), want))


def verify(wl, samples: list[dict], errors: list[str]) -> tuple[int, int, dict]:
    """Check every iteration's tables and search results.  An operation
    is one unit of committed work (a transport, a curation run, an ingest
    batch) or one search; a unit fails when any table of its iteration
    mismatches, a search when its result does, and an iteration that
    raised counts as one failed operation.  Returns (attempted, failed,
    detail)."""
    chk = Checker(wl, len(samples))
    attempted = failed = 0
    bad_tables: dict[str, list[str]] = {}
    bad_searches = []
    roots: dict[str, list[int]] = {}  # ingest iterations share one growing root
    for i in range(len(samples)):
        roots.setdefault(wl.tables_root(i), []).append(i)
    try:
        for root, its in roots.items():
            units = sum(len(samples[i]["batches"]) for i in its)
            attempted += units
            bad = chk.mismatches(root)
            if bad:
                failed += units
                bad_tables[os.path.relpath(root, wl.work)] = bad
        for i, s in enumerate(samples):
            for key, got in s["search_results"]:
                attempted += 1
                if not chk.search_ok(key, got):
                    failed += 1
                    bad_searches.append([i, list(key)])
    finally:
        chk.close()
    attempted += len(errors)
    failed += len(errors)
    return attempted, failed, {
        "tables": sorted(chk.expected), "expected": {
            t: list(fp) for t, (_, fp) in chk.expected.items()},
        "mismatched_tables": bad_tables, "mismatched_searches": bad_searches[:20]}
