"""DuckDB oracle comparison for registry-row outputs.

A row's output (a parquet directory) matches its oracle SQL when both
have the same column names, the same value kind per column, and the same
rows once columns are sorted by name and rows are sorted; floats compare
rounded to 6 digits. A row without an oracle must be non-empty.
"""
import math


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if hasattr(v, "tolist") or isinstance(v, (list, tuple)):
            raise TypeError("array-typed cell")
        return v
    return sorted((tuple(norm(v) for v in r)
                   for r in df.itertuples(index=False, name=None)), key=repr)


def compare(con, out_dir, sql):
    """Return (ok, detail) for one dumped row against its oracle SQL."""
    got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    if sql is None:
        return len(got) > 0, f"{len(got)} rows, no oracle"
    try:
        want = con.sql(sql).df()
        a, b = _canon(got), _canon(want)
    except Exception as e:  # oracle error or array cell: a failed check
        return False, f"{type(e).__name__}: {e}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    kinds = [{c: d[c].dtype.kind for c in sorted(d.columns)} for d in (got, want)]
    if kinds[0] != kinds[1]:
        return False, f"dtypes {kinds[0]} vs {kinds[1]}"
    if a != b:
        return False, f"values differ ({len(a)} vs {len(b)} rows)"
    return True, f"{len(a)} rows match"
