"""Answer checks against DuckDB, normalised as the engine's own
correctness harness does: columns in name order, rows as a sorted
multiset, floats compared by their IEEE-754 bits, decimals as doubles,
timestamps as instants, integer widths ignored.

A result is reduced to a digest over that normal form, so a check is
one string compare per query.
"""
import decimal
import hashlib
import struct

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """Scalar normal form, for nested columns only."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "f64:" + struct.pack(">d", v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _column(a):
    """One column in its normal form, as a sortable arrow array."""
    t = a.type
    if pa.types.is_dictionary(t):
        a, t = a.cast(t.value_type), t.value_type
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        return a.cast(pa.int64())
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        f = a.cast(pa.float64())
        bits = f.fill_null(0.0).to_numpy(zero_copy_only=False).view("int64")
        return pa.array(bits, pa.int64(), mask=f.is_null().to_numpy(zero_copy_only=False))
    if pa.types.is_timestamp(t):
        raw = pc.cast(a, pa.timestamp(t.unit)).cast(pa.int64())
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[t.unit]
        return pc.divide(raw, 1000) if t.unit == "ns" else pc.multiply(raw, scale)
    if pa.types.is_date(t):
        return a.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return a.cast(pa.string())
    return pa.array([repr(_norm(v)) for v in a.to_pylist()], pa.string())


def digest(table):
    """sha256 over the normal form of an arrow table."""
    names = sorted(table.column_names)
    cols = {n: _column(table.column(n).combine_chunks()) for n in names}
    norm = pa.table(cols) if names else pa.table({})
    if names and norm.num_rows:
        idx = pc.sort_indices(norm, sort_keys=[(n, "ascending") for n in names],
                              null_placement="at_end")
        norm = norm.take(idx)
    h = hashlib.sha256()
    h.update(repr(names).encode())
    h.update(str(norm.num_rows).encode())
    for n in names:
        c = norm.column(n).combine_chunks()
        h.update(c.is_null().to_numpy(zero_copy_only=False).tobytes())
        if pa.types.is_string(c.type):
            h.update("\x00".join(x or "" for x in c.to_pylist()).encode())
        else:
            h.update(c.fill_null(0).to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_queries(con, oracle_sql, results_dir):
    """{name: error} for every query whose answer's digest differs from
    its oracle's (or that has no answer)."""
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = digest(ds.dataset(f"{results_dir}/{name}", format="parquet").to_table())
        except Exception as e:  # no answer was written
            bad[name] = f"answer unreadable: {e}"
            continue
        want = digest(con.execute(sql).fetch_arrow_table())
        if got != want:
            bad[name] = f"digest {got[:12]} != oracle {want[:12]}"
    return bad


def check_view(con, serve_dir, landing_files):
    """The view must equal a flat GROUP BY over the seed prices plus every
    landed quote. Sums are compared to 1e-9 relative (summation order
    differs between engines); counts, minima and maxima exactly."""
    landed = ", ".join(f"'{f}'" for f in landing_files)
    rows = "SELECT event_type AS symbol, value AS price FROM events"
    if landing_files:
        rows += f" UNION ALL SELECT symbol, price FROM read_parquet([{landed}])"
    want = con.execute(
        f"SELECT symbol, count(*), sum(price), min(price), max(price) "
        f"FROM ({rows}) GROUP BY symbol ORDER BY symbol").fetchall()
    got = con.execute(
        f"SELECT symbol, n_rows, sum_val, min_val, max_val "
        f"FROM '{serve_dir}/*.parquet' ORDER BY symbol").fetchall()
    if len(got) != len(want):
        return f"view has {len(got)} groups, expected {len(want)}"
    for g, w in zip(got, want):
        if (g[0], g[1], g[3], g[4]) != (w[0], w[1], w[3], w[4]) or \
                abs(g[2] - w[2]) > 1e-9 * max(1.0, abs(w[2])):
            return f"view row {g} != expected {w}"
    return None
