"""Output checks: DuckDB oracle digests and ANN recall.

A digest is order- and type-spelling-independent: columns are taken in
name order, each value is normalized in SQL (integral numbers print as
integers, other numbers as their exact double, timestamps in UTC ISO
form, numeric lists element by element), and the per-row hashes are
summed. Floats therefore compare bit-exactly, as in graft's own DuckDB
gate.
"""
import duckdb


NUMERIC = ('TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT', 'HUGEINT', 'UTINYINT', 'USMALLINT',
           'UINTEGER', 'UBIGINT', 'FLOAT', 'DOUBLE', 'DECIMAL')


def _num(x):
    d = f'({x})::DOUBLE'
    return (f"CASE WHEN isfinite({d}) AND {d} = trunc({d}) AND abs({d}) < 9e15 "
            f"THEN ({d})::BIGINT::VARCHAR ELSE ({d})::VARCHAR END")


def _norm(col, typ):
    """SQL rendering of one value, identical for equal values of any
    numeric or timestamp spelling."""
    base = typ.split('(')[0]
    if base in NUMERIC:
        e = _num(col)
    elif typ.endswith('[]') and typ[:-2].split('(')[0] in NUMERIC:
        e = f"list_transform({col}, v -> {_num('v')})::VARCHAR"
    elif base == 'TIMESTAMP WITH TIME ZONE':
        e = f"strftime(timezone('UTC', {col}), '%Y-%m-%dT%H:%M:%S.%f')"
    elif base.startswith('TIMESTAMP'):
        e = f"strftime({col}::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f')"
    else:
        e = f'{col}::VARCHAR'
    return f"coalesce({e}, '~')"


def digest(con, sql):
    """(row count, multiset hash) of a query's result: each row's
    normalized values, in column-name order, hashed; hashes summed."""
    cols = sorted(con.execute(f'DESCRIBE {sql}').fetchall())
    row = ', '.join(_norm('"' + c[0].replace('"', '""') + '"', c[1]) for c in cols)
    names = ','.join(c[0] for c in cols)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {row}))::HUGEINT), 0) "
                       f"FROM ({sql}) AS t").fetchone()
    return n, f'{names}:{h}'


def connect(views):
    """DuckDB connection with one view per table: {name: parquet glob}."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute('SET threads = 2')
    for name, src in views.items():
        con.execute(f'CREATE VIEW {name} AS SELECT * FROM {src}')
    return con


def output_sql(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def count(con, path):
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def pairs(con, sql):
    return set(con.execute(f'SELECT query_id, neighbor_id FROM ({sql}) AS t').fetchall())


def recall(con, approx_path, exact_sql):
    """recall@k of an approximate top-k output against the exact top-k."""
    exact = pairs(con, exact_sql)
    if not exact:
        return 0.0
    return len(pairs(con, output_sql(approx_path)) & exact) / len(exact)
