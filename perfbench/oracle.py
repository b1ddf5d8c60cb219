"""Output checks against DuckDB over the same parquet corpus.

Search answers are compared by digest: the JVM hashes the collected
rows of each distinct request, and the same rows are hashed here from a
DuckDB query with whole-token, lower-case `$text` semantics. Batch
outputs with an entry in `graft.SparkEntry.oracleSql` are compared with
`tools/check.py`'s type-sensitive comparison.
"""
import hashlib
import importlib.util
import os

import duckdb
import pandas as pd

def _lit(s):
    return "'" + s.replace("'", "''") + "'"


# Whole-token, lower-case `$text` semantics: a document's tokens are the
# non-empty pieces of its lower-cased text split on single spaces.
# Materialized once per check so each request's query is a lookup.
SEARCH_TABLES = """
CREATE TEMP TABLE words AS
  SELECT doc_id, lang, source,
    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
  FROM documents;
CREATE TEMP TABLE tok AS
  SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM words;
CREATE TEMP TABLE dl AS SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id;
"""


def search_sql(kind, terms):
    """DuckDB SQL giving the rows (and order) a search request returns,
    over the tables of SEARCH_TABLES."""
    lits = ", ".join(_lit(t) for t in terms)
    if kind == "keyword":
        return (f"SELECT doc_id, lang, source, n_chars, text FROM documents "
                f"WHERE doc_id IN (SELECT doc_id FROM tok WHERE term = {lits}) "
                f"ORDER BY doc_id")
    if kind == "any":
        return (f"SELECT doc_id, lang, source FROM documents "
                f"WHERE doc_id IN (SELECT doc_id FROM tok WHERE term IN ({lits})) "
                f"ORDER BY doc_id")
    if kind == "bm25":
        return f"""
WITH stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term IN ({lits}) GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
parts AS (
  SELECT tf.doc_id,
    CAST(floor(1000000.0 *
      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
      ((CAST(tf AS DOUBLE) * 2.2) /
        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
          (CAST(dl.dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
    ) AS BIGINT) AS part
  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score FROM parts GROUP BY doc_id)
SELECT d.doc_id, d.lang, d.source, s.score
FROM documents d JOIN scores s ON d.doc_id = s.doc_id
ORDER BY s.score DESC, d.doc_id"""
    if kind == "phrase":
        legs = [f"t{i} AS (SELECT doc_id, pos - {i} AS pos FROM tok WHERE term = {_lit(t)})"
                for i, t in enumerate(terms)]
        joins = " ".join(f"JOIN t{i} USING (doc_id, pos)" for i in range(1, len(terms)))
        return f"""
WITH {", ".join(legs)},
hits AS (SELECT DISTINCT doc_id FROM t0 {joins})
SELECT doc_id, lang, source FROM documents
WHERE doc_id IN (SELECT doc_id FROM hits) ORDER BY doc_id"""
    if kind == "snippet":
        return f"""
WITH m AS (SELECT doc_id, lang, source, w, list_position(w, {lits}) AS p
      FROM words WHERE doc_id IN (SELECT doc_id FROM tok WHERE term = {lits}))
SELECT doc_id, lang, source, CAST(p AS BIGINT) AS hit_pos,
  array_to_string(list_slice(w, greatest(1, p - 3), least(len(w), p + 3)), ' ') AS snippet
FROM m ORDER BY doc_id"""
    raise ValueError(f"unknown request type {kind}")


def digest(rows):
    """The JVM's row digest: tab-joined cells, newline-joined rows."""
    h = hashlib.sha256()
    for i, row in enumerate(rows):
        if i:
            h.update(b"\n")
        h.update("\t".join("\\N" if v is None else str(v) for v in row).encode())
    return h.hexdigest()


def connect(corpus_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet({_lit(os.path.join(corpus_dir, t + '.parquet'))})")
    return con


def check_search(con, items):
    """List of mismatch descriptions over the JVM's per-request digests."""
    con.execute(SEARCH_TABLES)
    bad = []
    for it in items:
        what = f"{it['type']} {' '.join(it['terms'])}"
        if it["scan_digest"] is not None and it["scan_digest"] != it["digest"]:
            bad.append(f"{what}: index-served answer differs from the scan answer")
        rows = con.execute(search_sql(it["type"], it["terms"])).fetchall()
        if digest(rows) != it["digest"] or len(rows) != it["rows"]:
            bad.append(f"{what}: {it['rows']} rows differ from DuckDB's {len(rows)}")
    return bad


def _load_check(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_oracle(con, root, check_dir, items):
    """Compare batch outputs written under `check_dir` with their oracle
    SQL, the way `tools/check.py` does."""
    frame_rows = _load_check(root).frame_rows
    bad = []
    for it in items:
        name = it["name"]
        if it["status"] != "ok":
            bad.append(f"{name}: {it['status']}")
            continue
        got_cols, got = frame_rows(pd.read_parquet(os.path.join(check_dir, name)))
        exp_cols, exp = frame_rows(con.execute(it["sql"]).df())
        if (got_cols, got) != (exp_cols, exp):
            bad.append(f"{name}: differs from its oracle "
                       f"({len(got)} rows against {len(exp)})")
    return bad
