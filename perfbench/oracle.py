"""Expected query fingerprints from DuckDB, outside the program.

Same comparison rules as the repository's DuckDB oracle check: columns
in name order, rows as a multiset, floats at 12 significant digits,
NULL as a token, integer and float cells rendered differently so a type
change shows. The fingerprint of a result is its row count plus the sum,
over rows, of the first 60 bits of md5(the row's cells joined by '|');
the benchmark's JVM side computes the same value while it reads the
program's result (perfbenchshim.Consume)."""
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
FLOATS = ("DOUBLE", "FLOAT", "REAL")
INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT")


def cell_sql(name, typ):
    c = '"' + name.replace('"', '""') + '"'
    t = typ.upper()
    if t in FLOATS:
        v = f"printf('%.11e', {c})"
    elif t in ("TIMESTAMP", "TIMESTAMP WITH TIME ZONE"):
        v = f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    elif t == "DATE":
        v = f"strftime({c}, '%Y-%m-%d')"
    elif t in INTS or t in ("VARCHAR", "BOOLEAN"):
        v = f"CAST({c} AS VARCHAR)"
    else:
        raise ValueError(f"no canonical form for {name} {typ}")
    return f"coalesce({v}, 'NULL')"


def connect(table_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.isdir(path):  # written by Spark: a directory of parts
            path = os.path.join(path, "*.parquet")
        path = path.replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def fingerprint(con, sql):
    cols = con.execute(f"DESCRIBE SELECT * FROM ({sql}) AS q").fetchall()
    cells = ", ".join(cell_sql(n, t) for n, t, *_ in sorted(cols))
    rows, fp = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr(md5(concat_ws('|', {cells})), 1, 15))"
        f"::UBIGINT::HUGEINT), 0) FROM ({sql}) AS q").fetchone()
    return int(rows), int(fp)
