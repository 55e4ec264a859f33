"""DuckDB oracle comparer with an answer cache.

A result and its oracle are compared as tools/check.py compares them:
same column names, and the same multiset of rows once columns are put
in name order (row order is ignored; NaN equals NaN). Instead of
sorting rows in Python, each side is reduced in DuckDB to its row
count and the sum of a 64-bit hash per row, over values cast to one
canonical type per column, so million-row results compare in
milliseconds.

DuckDB's answer to an oracle depends only on the SQL text, the input
files and the canonical encoding, so its digest is cached on exactly
that key in `cache.json`.

    python3 perfbench/oracle.py --rebuild     recompute every cached answer
    python3 perfbench/oracle.py --self-test   perturbed results must fail
"""
import hashlib
import json
import os
import sys

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
CACHE = os.path.join(WORK, "oracle", "cache.json")

_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}
_FLOAT = {"FLOAT", "DOUBLE"}


def connect(threads=min(4, len(os.sched_getaffinity(0)))):
    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    con.sql("SET memory_limit = '4GB'")
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"SET temp_directory = '{os.path.join(WORK, 'oracle', 'spill')}'")
    return con


def _category(t):
    t = t.upper()
    if t.endswith("[]"):
        return _category(t[:-2]) + "[]"
    if t in _INT:
        return "INT"
    if t in _FLOAT or t.startswith("DECIMAL"):
        return "FLOAT"
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    return t


_CAST = {"INT": "HUGEINT", "FLOAT": "DOUBLE", "TIMESTAMP": "TIMESTAMP",
         "INT[]": "HUGEINT[]", "FLOAT[]": "DOUBLE[]"}


def encoding(result_types, oracle_types):
    """One canonical SQL type per column, shared by both sides: the
    type's category when the two agree, DOUBLE for an integer/float
    mix (check.py compares 1 and 1.0 equal), VARCHAR otherwise."""
    enc = {}
    for name, rt in result_types.items():
        a, b = _category(rt), _category(oracle_types[name])
        if a == b:
            enc[name] = _CAST.get(a, a)
        elif {a, b} == {"INT", "FLOAT"}:
            enc[name] = "DOUBLE"
        elif {a, b} == {"INT[]", "FLOAT[]"}:
            enc[name] = "DOUBLE[]"
        else:
            enc[name] = "VARCHAR"
    return enc


def types(con, sql):
    return {r[0]: r[1] for r in con.sql(f"DESCRIBE {sql}").fetchall()}


def digest(con, sql, enc):
    """(rows, hash sum) of `sql` under the column encoding `enc`."""
    cols = ", ".join(f'CAST("{c}" AS {enc[c]})' for c in sorted(enc))
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
                   f"FROM ({sql})").fetchone()
    return [int(n), str(h)]


_file_hashes = {}


def file_hash(path):
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _file_hashes:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        _file_hashes[key] = h.hexdigest()
    return _file_hashes[key]


def inputs_key(data_dir):
    return {t: file_hash(f"{data_dir}/{t}.parquet") for t in TABLES}


def load_cache():
    try:
        with open(CACHE) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_cache(cache):
    os.makedirs(os.path.dirname(CACHE), exist_ok=True)
    tmp = CACHE + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, CACHE)


def register(con, data_dir):
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{data_dir}/{t}.parquet'")


def oracle_digest(con, cache, data_dir, sql, enc):
    """DuckDB's digest of the oracle, from the cache when the SQL, the
    inputs and the encoding are unchanged."""
    entry = {"sql": sql, "data_dir": data_dir,
             "inputs": inputs_key(data_dir) if data_dir else {},
             "encoding": enc}
    key = hashlib.sha256(json.dumps(
        [sql, entry["inputs"], enc], sort_keys=True).encode()).hexdigest()
    if key not in cache:
        entry["digest"] = digest(con, sql, enc)
        cache[key] = entry
    return cache[key]["digest"]


def compare(con, cache, data_dir, result_sql, oracle_sql):
    """None when the result equals the oracle's answer, else a reason."""
    rt = types(con, result_sql)
    ot = types(con, oracle_sql)
    if sorted(rt) != sorted(ot):
        return f"columns {sorted(rt)} vs {sorted(ot)}"
    enc = encoding(rt, ot)
    got = digest(con, result_sql, enc)
    want = oracle_digest(con, cache, data_dir, oracle_sql, enc)
    if got != want:
        return f"rows/hash {got} vs {want}"
    return None


def perturbations(con, result_sql):
    """Two copies of a result that must not compare equal to it: one
    with a row dropped, one with one value changed."""
    cols = list(types(con, result_sql))
    rel = f"(SELECT row_number() OVER () AS _rn, * FROM ({result_sql}))"
    dropped = f"SELECT * EXCLUDE (_rn) FROM {rel} WHERE _rn <> 1"
    # change the first column of the first row: numbers by +1, strings
    # by an appended character, anything else to NULL
    c = cols[0]
    t = _category(types(con, result_sql)[c])
    bump = {"INT": f'"{c}" + 1', "FLOAT": f'"{c}" + 1',
            "VARCHAR": f""""{c}" || 'x'"""}.get(t, "NULL")
    changed = (f'SELECT * EXCLUDE (_rn) REPLACE (CASE WHEN _rn = 1 THEN {bump} '
               f'ELSE "{c}" END AS "{c}") FROM {rel}')
    return dropped, changed


def self_test(con, cache, data_dir, result_sql, oracle_sql):
    """None when both perturbed copies of a passing result fail."""
    for label, sql in zip(("dropped row", "changed value"),
                          perturbations(con, result_sql)):
        if compare(con, cache, data_dir, sql, oracle_sql) is None:
            return f"self-test: a result with a {label} passed the compare"
    return None


def rebuild():
    cache = load_cache()
    con = connect()
    fresh = {}
    for key, e in cache.items():
        if not all(os.path.exists(f"{e['data_dir']}/{t}.parquet") for t in TABLES):
            continue
        register(con, e["data_dir"])
        oracle_digest(con, fresh, e["data_dir"], e["sql"], e["encoding"])
    save_cache(fresh)
    print(f"rebuilt {len(fresh)} of {len(cache)} cached oracle answers")


def _self_test_main():
    """Stand-alone self-test on a synthetic result and its oracle."""
    con = connect()
    sql = ("SELECT i AS id, 'v' || i AS name, i * 0.5 AS x "
           "FROM range(100) t(i)")
    assert compare(con, {}, None, sql, sql) is None, "identical results differ"
    err = self_test(con, {}, None, sql, sql)
    print(err or "self-test passed: both perturbed results fail the compare")
    return 1 if err else 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--rebuild"]:
        rebuild()
    elif sys.argv[1:] == ["--self-test"]:
        sys.exit(_self_test_main())
    else:
        print(__doc__)
        sys.exit(2)
