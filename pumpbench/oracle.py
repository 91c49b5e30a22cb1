"""DuckDB oracle check for the query_board warm-up outputs.

Mirrors the comparison of the repo's `tools/check.py`: for every entry,
run its oracle SQL in DuckDB over the same parquet tables, then compare
with the Spark output column-name-sorted and row-sorted, by exact value
(NaN equals NaN). Decimal-typed columns and dtype-class mismatches fail
too, because they break a stringifying hash even when values agree.
"""
import json
from pathlib import Path

TABLES = ["lineitem", "orders", "documents", "embeddings"]


def _dtype_class(d):
    d = str(d)
    for k in ("int", "float", "bool", "datetime", "timedelta"):
        if k in d:
            return k
    return "object"


def compare(con, name, sql, files):
    """Return None when the Spark output matches the oracle, else why not."""
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
    exp = con.execute(sql).df()
    got_ty = dict(con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files!r})").df()
        [["column_name", "column_type"]].values)
    exp_ty = dict(con.execute(f"DESCRIBE {sql}").df()
                  [["column_name", "column_type"]].values)
    dec = sorted({c for c, t in {**got_ty, **exp_ty}.items()
                  if "DECIMAL" in str(t).upper()})
    if dec:
        return f"decimal final column(s) {dec}"
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    es = exp.sort_values(by=list(exp.columns), ignore_index=True)
    diffs = []
    for c in gs.columns:
        ga, ea = gs[c].dtype, es[c].dtype
        if str(ga) != str(ea) and _dtype_class(ga) != _dtype_class(ea):
            diffs.append(f"{c}(dtype {ga} vs {ea})")
            continue
        a, b = gs[c], es[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            diffs.append(f"{c}({int((~eq).sum())} diffs, e.g. "
                         f"{a[i]!r} vs {b[i]!r})")
    return f"value diffs: {'; '.join(diffs)}" if diffs else None


def check(data_dir, out_dir):
    """Check every entry dumped under out_dir; return a list of errors."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    errors = []
    for name in sorted(oracle):
        files = sorted(str(p) for p in Path(out_dir, name).glob("*.parquet"))
        if not files:
            errors.append(f"{name}: no spark output")
            continue
        try:
            why = compare(con, name, oracle[name], files)
        except Exception as e:  # an oracle that cannot run is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            errors.append(f"{name}: {why}")
    return errors
