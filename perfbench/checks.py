"""Output checks. They run outside the timed phase; every mismatch is
reported and counted as a failed operation, never dropped from the mix.

Batch: each query's result is compared with its DuckDB oracle
(`SparkEntry.oracleSql`) under the rules of `tools/check_parity.py`:
columns sorted by name, same column types, same row count, and every cell
equal in canonical form (floats at 17 significant digits, one NULL token).

Stream: the emitted windows are compared with a DuckDB twin of the
pipeline over the same payload files, and the twin's counts with the
generator's own tally.
"""
import glob
import os

import duckdb

NON_PORTABLE = ("HUGEINT", "UHUGEINT")


def _views(con, data_dir):
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")


def _types(con, sql):
    return {r[0]: r[1].upper().replace(" WITH TIME ZONE", "")
            for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def _canon(rows):
    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<NULL>"
        if isinstance(v, float):
            return format(v, ".17g")
        return str(v)
    return sorted(tuple(cell(v) for v in r) for r in rows)


def compare_query(con, name, sql, result_dir):
    """None when the Spark result under `result_dir` equals the oracle,
    else a one-line reason."""
    files = os.path.join(result_dir, "*.parquet")
    if not glob.glob(files):
        return "no result"
    try:
        duck_types = _types(con, sql)
        cols = sorted(duck_types)
        select = ", ".join('"' + c + '"' for c in cols)
        duck = con.execute(f"SELECT {select} FROM ({sql})").fetchall()
    except Exception as e:  # noqa: BLE001 - an oracle error is a mismatch
        return f"oracle error: {e}"
    spark_sql = f"SELECT * FROM read_parquet('{files}')"
    spark_types = _types(con, spark_sql)
    if sorted(spark_types) != cols:
        return f"schema: oracle {cols} spark {sorted(spark_types)}"
    bad = {c: (duck_types[c], spark_types[c]) for c in cols if duck_types[c] != spark_types[c]}
    if bad:
        return f"types differ: {bad}"
    wide = [c for c, t in duck_types.items() if any(p in t for p in NON_PORTABLE)]
    if wide:
        return f"oracle columns {wide} are int128"
    spark = con.execute(f"SELECT {select} FROM ({spark_sql})").fetchall()
    if len(duck) != len(spark):
        return f"rows: oracle {len(duck)} spark {len(spark)}"
    d, s = _canon(duck), _canon(spark)
    if d != s:
        i = next(i for i, (x, y) in enumerate(zip(d, s)) if x != y)
        return f"first differing row: oracle {d[i]} spark {s[i]}"
    return None


def batch(data_dir, results_dir, oracle):
    """{query: reason} for every query of `oracle` whose result differs."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    _views(con, data_dir)
    bad = {}
    for name, sql in sorted(oracle.items()):
        why = compare_query(con, name, sql, os.path.join(results_dir, name))
        if why:
            bad[name] = why
    con.close()
    return bad


def stream(payload_dir, sink_dir, pos, neg, lang, window_s, closed_before, tally):
    """Compare the stream's emitted (window, hashtag) rows with the twin.
    Every emitted row must equal the twin's; every twin window that ends at
    or before `closed_before` (epoch s) must have been emitted; the twin's
    tweet counts must equal the generator's tally. Returns
    (windows checked, windows wrong or missing, reasons)."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    twin = {}
    rows = con.execute(f"""
        WITH t AS (
            SELECT * FROM read_json('{payload_dir}/*.json', format='newline_delimited',
                columns={{text: 'VARCHAR', lang: 'VARCHAR', created_at: 'TIMESTAMPTZ',
                          entities: 'STRUCT(hashtags STRUCT(text VARCHAR)[])'}})
            WHERE lang = '{lang}'),
        s AS (
            SELECT (floor(epoch(created_at) / {window_s}) * {window_s})::BIGINT AS w,
                len(list_filter(string_split(lower(text), ' '), x -> x IN ({pos}))) AS p,
                len(list_filter(string_split(lower(text), ' '), x -> x IN ({neg}))) AS n,
                list_distinct(list_concat(regexp_extract_all(lower(text), '#(\\w+)', 1),
                    coalesce(list_transform(entities.hashtags, h -> lower(h.text)), []))) AS tags
            FROM t)
        SELECT w, tag, count(*), count(*) FILTER (WHERE p > n), count(*) FILTER (WHERE n > p)
        FROM s, unnest(tags) AS u(tag) GROUP BY w, tag""").fetchall()
    for w, tag, nt, npos, nneg in rows:
        twin[(w, tag)] = (nt, npos, nneg)
    reasons = []
    off = [k for k in set(twin) | set(tally) if twin.get(k, (0,))[0] != tally.get(k, 0)]
    if off:
        k = sorted(off)[0]
        reasons.append(f"twin and generator disagree on {len(off)} windows, e.g. {k}: "
                       f"{twin.get(k)} vs {tally.get(k)}")
    files = glob.glob(os.path.join(sink_dir, "*.parquet"))
    emitted = {}
    if files:
        for w, tag, nt, npos, nneg in con.execute(f"""
                SELECT epoch(window_start)::BIGINT, hashtag, n_tweets, n_positive, n_negative
                FROM read_parquet('{sink_dir}/*.parquet')""").fetchall():
            if (w, tag) in emitted:
                reasons.append(f"window {(w, tag)} emitted twice")
            emitted[(w, tag)] = (nt, npos, nneg)
    con.close()
    wrong = [k for k, v in emitted.items() if twin.get(k) != v]
    missing = [k for k in twin if k[0] + window_s <= closed_before and k not in emitted]
    if wrong:
        k = sorted(wrong)[0]
        reasons.append(f"{len(wrong)} windows differ from the twin, e.g. {k}: "
                       f"{emitted[k]} vs {twin.get(k)}")
    if missing:
        reasons.append(f"{len(missing)} closed windows never emitted, e.g. {sorted(missing)[0]}")
    checked = len(set(emitted) | {k for k in twin if k[0] + window_s <= closed_before})
    return checked, len(set(wrong) | set(missing)), reasons
