"""Independent checks of the program's outputs, computed in DuckDB.

`Checker.oracle(name, sql, out_dir)` compares a Spark output directory
with DuckDB running the op's oracle SQL over the same input files: row
count, column names, and the sorted multiset of canonical row values
(floats rounded to 9 decimals), the rule of the repository's local
verifier. Oracle results are cached on disk, keyed by the SQL text and
the digests of the input files, because the same seed gives the same
inputs.

The rows-only dedup ops and the load steps have property checks instead.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

# the repository's local verifier holds the comparison rule
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
try:
    from localverify import TABLES, frame_key  # noqa: E402
except ImportError:
    sys.exit("graftbench: no tools/localverify.py; run from a full checkout")


def digest(cols, rows) -> str:
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in frame_key(rows, cols):
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def table_source(data_dir: str, t: str) -> str:
    path = os.path.join(data_dir, f"{t}.parquet")
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]
    for f in files:
        with open(f, "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


class Checker:
    """DuckDB connection over one data directory, with an oracle cache."""

    def __init__(self, data_dir: str, cache_dir: str, threads: int = 4):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{cache_dir}/tmp'")
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {table_source(data_dir, t)}")
        self.inputs = {t: file_digest(os.path.join(data_dir, f"{t}.parquet"))
                       for t in TABLES}

    def read(self, out_dir: str):
        cur = self.con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/*.parquet', hive_partitioning = false)")
        return [d[0] for d in cur.description], cur.fetchall()

    def cache_key(self, sql: str) -> str:
        h = hashlib.sha256(sql.encode())
        for t in TABLES:
            h.update(f"{t}={self.inputs[t]};".encode())
        return h.hexdigest()

    def expected(self, sql: str) -> dict:
        """Oracle result summary: columns, row count and value digest."""
        path = os.path.join(self.cache_dir, self.cache_key(sql) + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        res = {"cols": sorted(cols), "rows": len(rows), "digest": digest(cols, rows)}
        with open(path + ".partial", "w") as fh:
            json.dump(res, fh)
        os.replace(path + ".partial", path)
        return res

    def oracle(self, sql: str, out_dir: str) -> str:
        """Empty string when the output matches the oracle, else why not."""
        want = self.expected(sql)
        cols, rows = self.read(out_dir)
        if sorted(cols) != want["cols"]:
            return f"columns {sorted(cols)} != {want['cols']}"
        if len(rows) != want["rows"]:
            return f"rows {len(rows)} != {want['rows']}"
        if digest(cols, rows) != want["digest"]:
            return "value digest differs"
        return ""

    # ---- property checks: the ops and load steps without an oracle ----

    def _pairs_problems(self, out_dir: str, k: int, min_sim: float) -> list:
        out = f"read_parquet('{out_dir}/*.parquet')"
        n, distinct, bad_order, bad_sim = self.con.execute(f"""
            SELECT count(*), count(DISTINCT (doc_a, doc_b)),
              count(*) FILTER (WHERE NOT doc_a < doc_b),
              count(*) FILTER (WHERE est_sim < {min_sim} OR est_sim > 1
                OR abs(est_sim * {k} - round(est_sim * {k})) > 1e-9)
            FROM {out}""").fetchone()
        problems = []
        if distinct != n:
            problems.append(f"{n - distinct} pairs appear twice")
        if bad_order:
            problems.append(f"{bad_order} pairs with doc_a >= doc_b")
        if bad_sim:
            problems.append(f"{bad_sim} est_sim values off the 1/{k} grid or outside [{min_sim}, 1]")
        return problems

    def dedup_minhash(self, out_dir: str) -> str:
        """q_dedup_minhash: k = 64, minSim = 0.5 over the documents plus
        their planted copies (every 20th doc at id + 1e6, 30 chars cut)."""
        problems = self._pairs_problems(out_dir, 64, 0.5)
        missing = self.con.execute(f"""
            WITH corpus AS (
              SELECT doc_id, "text" FROM documents
              UNION ALL
              SELECT doc_id + 1000000, substring("text", 1, greatest(length("text") - 30, 1))
              FROM documents WHERE doc_id % 20 = 0),
            same AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM corpus a JOIN corpus b
                ON a."text" = b."text" AND a.doc_id < b.doc_id)
            SELECT count(*) FROM same s LEFT JOIN read_parquet('{out_dir}/*.parquet') o
              ON o.doc_a = s.doc_a AND o.doc_b = s.doc_b AND o.est_sim = 1.0
            WHERE o.doc_a IS NULL""").fetchone()[0]
        if missing:
            problems.append(f"{missing} identical-text pairs missing or below est_sim 1")
        return "; ".join(problems)

    def dedup_staged(self, out_dir: str) -> str:
        """q_dedup_staged: exact copies are collapsed to their smallest id
        before MinHash, so only those representatives may appear; and every
        planted near-copy or truncated copy whose shingle set has Jaccard
        at least 0.9 with its source's must appear as a pair of their
        representatives (at k = 64 and 16 bands, LSH misses such a pair
        with probability below 1e-7)."""
        problems = self._pairs_problems(out_dir, 64, 0.5)
        out = f"read_parquet('{out_dir}/*.parquet')"
        kinds = os.path.join(self.data_dir, "kinds.parquet")
        near = (f"""UNION ALL
              SELECT c."text", s."text" FROM read_parquet('{kinds}') k
                JOIN documents c ON c.doc_id = k.doc_id JOIN documents s ON s.doc_id = k.src_id
              WHERE k.kind = 'near'""" if os.path.exists(kinds) else "")
        n_out, stray, planted, missing = self.con.execute(f"""
            WITH corpus AS (
              SELECT doc_id, "text" FROM documents
              UNION ALL
              SELECT doc_id + 1000000, substring("text", 1, greatest(length("text") - 30, 1))
              FROM documents WHERE doc_id % 20 = 0
              UNION ALL
              SELECT doc_id + 2000000, "text" FROM documents WHERE doc_id % 10 = 0),
            reps AS (SELECT "text", min(doc_id) AS doc_id FROM corpus GROUP BY "text"),
            ids AS (SELECT doc_a AS doc_id FROM {out} UNION SELECT doc_b FROM {out}),
            copies(ta, tb) AS (
              SELECT substring("text", 1, greatest(length("text") - 30, 1)), "text"
              FROM documents WHERE doc_id % 20 = 0
              {near}),
            toks AS (
              SELECT least(ra.doc_id, rb.doc_id) AS doc_a, greatest(ra.doc_id, rb.doc_id) AS doc_b,
                string_split(ta, ' ') AS a, string_split(tb, ' ') AS b
              FROM copies JOIN reps ra ON ra."text" = ta JOIN reps rb ON rb."text" = tb
              WHERE ra.doc_id <> rb.doc_id),
            shingles AS (
              SELECT DISTINCT doc_a, doc_b,
                list_distinct(list_transform(range(1, len(a) - 1),
                  i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])) AS sa,
                list_distinct(list_transform(range(1, len(b) - 1),
                  i -> b[i] || ' ' || b[i + 1] || ' ' || b[i + 2])) AS sb
              FROM toks WHERE len(a) >= 3 AND len(b) >= 3),
            close_pairs AS (
              SELECT DISTINCT doc_a, doc_b FROM shingles
              WHERE len(list_intersect(sa, sb)) >= 0.9 * len(list_distinct(sa || sb)))
            SELECT (SELECT count(*) FROM {out}),
              (SELECT count(*) FROM ids WHERE doc_id NOT IN (SELECT doc_id FROM reps)),
              (SELECT count(*) FROM close_pairs),
              (SELECT count(*) FROM close_pairs p LEFT JOIN {out} o
                 ON o.doc_a = p.doc_a AND o.doc_b = p.doc_b WHERE o.doc_a IS NULL)""").fetchone()
        if n_out == 0:
            problems.append("no pairs")
        if stray:
            problems.append(f"{stray} ids that are not exact-copy representatives")
        if missing:
            problems.append(f"{missing} of {planted} planted copies with Jaccard >= 0.9 missing")
        return "; ".join(problems)

    def daily_partition(self, part_dir: str, day: str) -> str:
        """The partition written for `day` equals DuckDB's own day filter."""
        cols, rows = self.read(part_dir)
        cur = self.con.execute(f"""SELECT * FROM events
            WHERE ts >= DATE '{day}' AND ts < DATE '{day}' + INTERVAL 1 DAY""")
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != {sorted(want_cols)}"
        if len(rows) != len(want):
            return f"rows {len(rows)} != {len(want)}"
        if frame_key(rows, cols) != frame_key(want, want_cols):
            return "values differ from the day filter"
        return ""

    def upsert_state(self, table_dir: str, days: list) -> str:
        """After upserting each day's last event per user, in order, the
        table holds every user seen so far once, with the values of the
        latest day that updated it."""
        cols, rows = self.read(table_dir)
        keys = [r[cols.index("user_id")] for r in rows]
        if len(keys) != len(set(keys)):
            return f"{len(keys) - len(set(keys))} keys appear twice"
        order = ", ".join(f"({i}, DATE '{d}')" for i, d in enumerate(days))
        cur = self.con.execute(f"""
            WITH d(i, day) AS (VALUES {order}),
            e AS (SELECT e.*, d.i FROM events e JOIN d
                    ON e.ts >= d.day AND e.ts < d.day + INTERVAL 1 DAY)
            SELECT user_id, event_id, ts, event_type, "value" FROM e
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY i DESC, event_id DESC) = 1""")
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != {sorted(want_cols)}"
        if len(rows) != len(want):
            return f"keys {len(rows)} != union of inputs {len(want)}"
        if frame_key(rows, cols) != frame_key(want, want_cols):
            return "updated keys do not carry the update's values"
        return ""
