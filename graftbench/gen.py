"""Seeded input generator for the graft benchmark.

`tables(out_dir, seed, sf)` writes the ten catalog tables that
`graft.Tables` reads (`<name>.parquet`), shaped like the TPC-H-ish star
schema plus the `events` stream, `documents` and `embeddings` tables.

`corpus(base_dir, out_dir, seed, n_docs, n_files)` writes a
`documents.parquet` directory of several files for the corpus workload:
originals plus exact copies, near-copies (about one token in 23
replaced) and token permutations, and links every other table from the
base directory unchanged.

Every random draw is a DuckDB `hash` of (row, column salt, seed), so the
same seed gives byte-identical inputs on every run.
"""
import json
import os
import shutil

import duckdb

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# corpus make-up: shares of the generated documents by kind
CORPUS_SHARES = {"exact": 0.10, "near": 0.10, "perm": 0.10}
NEAR_REPLACE = 23      # a near-copy replaces about one token in this many
MAX_DOC_ID = 1_000_000  # registered dedup ops plant copies at id + 1e6/2e6


def _con(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    # u(k, salt): uniform [0, 1) draw for row k; r(k, salt, n): int [0, n)
    con.execute(f"CREATE MACRO u(k, salt) AS "
                f"(hash(k, salt, {int(seed)}) % 1000000007)::DOUBLE / 1000000007")
    con.execute("CREATE MACRO r(k, salt, n) AS floor(u(k, salt) * n)::BIGINT")
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    con.execute(f"CREATE MACRO vocab() AS [{vocab}]")
    return con


def _write(con, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


def tables(out_dir: str, seed: int, sf: float) -> None:
    """Writes `<out_dir>/<table>.parquet` for every catalog table."""
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = _con(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    n_user = max(10, int(15_000 * sf))
    p = lambda t: f"{tmp}/{t}.parquet"
    _write(con, """SELECT i::INTEGER r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
        FROM range(5) t(i)""", p("region"))
    _write(con, """SELECT i::INTEGER n_nationkey, 'NATION_' || i n_name,
        (i % 5)::INTEGER n_regionkey FROM range(25) t(i)""", p("nation"))
    _write(con, f"""SELECT i c_custkey, printf('Customer#%09d', i) c_name,
        r(i, 'cn', 25)::INTEGER c_nationkey,
        round(-999.99 + u(i, 'cb') * 10999.98, 2) c_acctbal,
        ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][r(i, 'cs', 5) + 1]
          c_mktsegment
        FROM range({n_cust}) t(i)""", p("customer"))
    _write(con, f"""SELECT i s_suppkey, printf('Supplier#%09d', i) s_name,
        r(i, 'sn', 25)::INTEGER s_nationkey,
        round(-999.99 + u(i, 'sb') * 10999.98, 2) s_acctbal
        FROM range({n_supp}) t(i)""", p("supplier"))
    _write(con, f"""SELECT i p_partkey,
        ['large','hot','blue','red','small','cold','green','dark'][r(i, 'pa', 8) + 1]
          || ' ' || ['ring','bolt','nut','gear','pipe','wire','case','lamp'][r(i, 'pb', 8) + 1]
          p_name,
        'Brand#' || (r(i, 'pd', 25) + 1) p_brand,
        ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'][r(i, 'pt', 6) + 1] p_type,
        (r(i, 'ps', 50) + 1)::INTEGER p_size,
        round(900 + (i % 1000) * 0.1, 2) p_retailprice
        FROM range({n_part}) t(i)""", p("part"))
    _write(con, f"""SELECT i o_orderkey, r(i, 'oc', {n_cust}) o_custkey,
        ['O','F','P'][r(i, 'os', 3) + 1] o_orderstatus,
        round(1000 + u(i, 'op') * 499000, 2) o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(r(i, 'od', 2404)::INTEGER) o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][r(i, 'oo', 5) + 1]
          o_orderpriority
        FROM range({n_ord}) t(i)""", p("orders"))
    _write(con, f"""SELECT r(i, 'lo', {n_ord}) l_orderkey,
        r(i, 'lp', {n_part}) l_partkey, r(i, 'ls', {n_supp}) l_suppkey,
        (r(i, 'ln', 7) + 1)::INTEGER l_linenumber,
        (r(i, 'lq', 50) + 1)::DOUBLE l_quantity,
        round(900 + u(i, 'le') * 104100, 2) l_extendedprice,
        r(i, 'ld', 11) / 100.0 l_discount, r(i, 'lt', 9) / 100.0 l_tax,
        ['A','N','R'][r(i, 'lr', 3) + 1] l_returnflag,
        ['O','F'][r(i, 'll', 2) + 1] l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(r(i, 'lsd', 2498)::INTEGER) l_shipdate
        FROM range({n_line}) t(i)""", p("lineitem"))
    _write(con, f"""SELECT (row_number() OVER (ORDER BY ts, i) - 1)::BIGINT event_id,
        ts, user_id, event_type, "value", props FROM (
          SELECT i, TIMESTAMP '2024-01-01'
              + to_microseconds(r(i, 'et', 2592000000000)) ts,
            r(i, 'eu', {n_user}) user_id,
            ['click','view','purchase','signup','error'][r(i, 'ey', 5) + 1] event_type,
            round(-50 * ln(1 - u(i, 'ev')), 2) "value",
            '{{"k": ' || r(i, 'ek', 100) || '}}' props
          FROM range({n_ev}) t(i)) ORDER BY event_id""", p("events"))
    _write(con, f"""SELECT i AS doc_id, txt AS "text",
        ['en','en','fr','es','de','zh'][r(i, 'dl', 6) + 1] AS lang,
        'src' || (i % 20) AS source, length(txt)::BIGINT AS n_chars
        FROM (SELECT i, array_to_string(list_transform(
            range(10 + r(i, 'dn', 91)), j -> vocab()[r(i * 1000 + j, 'dw', 30) + 1]),
            ' ') AS txt FROM range({n_doc}) t(i))""", p("documents"))
    _write(con, f"""SELECT i vec_id, list_transform(range(64),
          j -> ((u(i * 64 + j, 'ev') - 0.5) / 4)::FLOAT) AS embedding,
        r(i, 'el', 10)::INTEGER AS label FROM range({n_emb}) t(i)""", p("embeddings"))
    con.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def corpus(base_dir: str, out_dir: str, seed: int, n_docs: int,
           n_files: int) -> dict:
    """Writes the scaled corpus; returns its declared make-up."""
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/documents.parquet")
    con = _con(seed)
    n_exact = int(n_docs * CORPUS_SHARES["exact"])
    n_near = int(n_docs * CORPUS_SHARES["near"])
    n_perm = int(n_docs * CORPUS_SHARES["perm"])
    n_orig = n_docs - n_exact - n_near - n_perm
    assert n_docs < MAX_DOC_ID
    # originals: the base documents, then fresh word sequences up to n_orig
    con.execute(f"""CREATE TABLE docs AS
        SELECT doc_id, 'orig' AS kind, doc_id AS src_id, "text"
          FROM read_parquet('{base_dir}/documents.parquet') WHERE doc_id < {n_orig}
        UNION ALL
        SELECT i, 'orig', i, array_to_string(list_transform(range(10 + r(i, 'cn', 91)),
            j -> vocab()[r(i * 1000 + j, 'cw', 30) + 1]), ' ')
          FROM range({n_orig}) t(i)
          WHERE i >= (SELECT count(*) FROM read_parquet('{base_dir}/documents.parquet'))""")
    variants = []
    first = n_orig
    for kind, count in (("exact", n_exact), ("near", n_near), ("perm", n_perm)):
        variants.append((kind, first, count))
        first += count
    for kind, first, count in variants:
        src = f"r(i, '{kind}src', {n_orig})"
        if kind == "exact":
            body = "s.text"
        elif kind == "near":
            body = f"""array_to_string(list_transform(
                range(1, len(string_split(s.text, ' ')) + 1),
                j -> CASE WHEN r(i * 1000 + j, 'nr', {NEAR_REPLACE}) = 0
                  THEN vocab()[r(i * 1000 + j, 'nw', 30) + 1]
                  ELSE string_split(s.text, ' ')[j] END), ' ')"""
        else:
            body = f"""array_to_string(list_transform(
                list_sort(list_transform(range(1, len(string_split(s.text, ' ')) + 1),
                  j -> [u(i * 1000 + j, 'pp'), j::DOUBLE])),
                x -> string_split(s.text, ' ')[x[2]::BIGINT]), ' ')"""
        con.execute(f"""INSERT INTO docs SELECT i, '{kind}', s.doc_id, {body}
            FROM range({first}, {first + count}) t(i)
            JOIN docs s ON s.doc_id = {src} AND s.kind = 'orig'""")
    con.execute(f"""CREATE VIEW out AS SELECT doc_id, text,
        ['en','en','fr','es','de','zh'][r(doc_id, 'dl', 6) + 1] lang,
        'src' || (doc_id % 20) source, length(text)::BIGINT n_chars,
        doc_id % {n_files} AS f FROM docs""")
    for f in range(n_files):
        _write(con, f"SELECT * EXCLUDE (f) FROM out WHERE f = {f} ORDER BY doc_id",
               f"{tmp}/documents.parquet/part-{f:03d}.parquet")
    _write(con, "SELECT doc_id, kind, src_id FROM docs", f"{tmp}/kinds.parquet")
    con.close()
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.abspath(f"{base_dir}/{t}.parquet"),
                       f"{tmp}/{t}.parquet")
    declared = {"docs": n_docs, "files": n_files, "exact": n_exact,
                "near": n_near, "perm": n_perm, "near_replace": NEAR_REPLACE}
    with open(f"{tmp}/corpus.json", "w") as fh:
        json.dump(declared, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return declared


def check_corpus(out_dir: str) -> list:
    """Checks the corpus against its declared make-up; returns problems."""
    with open(f"{out_dir}/corpus.json") as fh:
        declared = json.load(fh)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM "
                f"read_parquet('{out_dir}/documents.parquet/*.parquet')")
    con.execute(f"CREATE VIEW k AS SELECT * FROM '{out_dir}/kinds.parquet'")
    problems = []
    n_rows, n_ids, max_id = con.execute(
        "SELECT count(*), count(DISTINCT doc_id), max(doc_id) FROM d").fetchone()
    n_files = len(os.listdir(f"{out_dir}/documents.parquet"))
    if n_rows != declared["docs"] or n_ids != n_rows:
        problems.append(f"rows {n_rows} ids {n_ids} != {declared['docs']}")
    if n_files != declared["files"]:
        problems.append(f"files {n_files} != {declared['files']}")
    if max_id >= MAX_DOC_ID:
        problems.append(f"doc_id {max_id} >= {MAX_DOC_ID}")
    rows = con.execute("""
        SELECT k.kind, count(*),
          count(*) FILTER (WHERE c.text = s.text),
          count(*) FILTER (WHERE list_sort(string_split(c.text, ' '))
                               = list_sort(string_split(s.text, ' '))),
          sum(len(list_filter(range(1, len(string_split(c.text, ' ')) + 1),
              j -> string_split(c.text, ' ')[j] <> string_split(s.text, ' ')[j]))),
          sum(len(string_split(c.text, ' ')))
        FROM k JOIN d c ON c.doc_id = k.doc_id JOIN d s ON s.doc_id = k.src_id
        WHERE k.kind <> 'orig' GROUP BY k.kind""").fetchall()
    for kind, n, same, same_bag, changed, tokens in rows:
        if n != declared[kind]:
            problems.append(f"{kind}: {n} docs != {declared[kind]}")
        if kind == "exact" and same != n:
            problems.append(f"exact: {n - same} copies differ from their source")
        if kind == "perm" and same_bag != n:
            problems.append(f"perm: {n - same_bag} permutations change the vocabulary")
        if kind == "near":
            share = changed / tokens
            want = 1 / declared["near_replace"] * (29 / 30)  # replacing with the same word is no change
            if abs(share - want) > want * 0.25:
                problems.append(f"near: replaced share {share:.4f}, want ~{want:.4f}")
    con.close()
    return problems
