#!/usr/bin/env python3
"""Value-RENDER parity sweep (the embedding_health class guard).

tools/schema_parity.py checks TYPES and tools/compare_oracle.py checks
VALUES — and embedding_health (r13) was green under both yet red under the
driver's hash, because the driver canonicalizes by RENDERING values and the
two frames materialize the same value differently: the Spark parquet
read back through pyarrow gives `decimal.Decimal('123')` for DECIMAL(38,0)
while DuckDB's .df() gives `123.0` (float64). Value-equal, type-parity-equal
(both "DECIMAL(38,0)" at the SQL layer), render-different.

This sweep closes the class at the layer the driver actually compares:
  spark side = pyarrow.parquet -> pandas -> tolist()   (object-preserving)
  oracle side = duckdb .df()   -> tolist()
then canonicalizes each cell through ONE renderer (repr, with NaN/None
folded) and diffs strings. Any query whose result contains a type that the
two engines materialize differently — wide decimals, HUGEINT, nested
rendering drift — fails HERE, before the driver's CORRECTNESS gate does.

Usage: python3 tools/render_parity.py <verify_out_dir> <sf_dir>
(run graft.Verify into <verify_out_dir> first; exits 1 on any mismatch;
result dirs absent from a restricted Verify run are skipped, not failed)

Each OK/FAIL line ends with the seconds the query's DuckDB side took, and
the five slowest are listed before the summary line, so a slow oracle
query on a large fixture is named rather than guessed.
"""
import glob
import json
import math
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render(v):
    """One canonical string per cell value, mimicking the DRIVER's
    strictness: ints render bare ('123'), floats via repr — keeping the
    trailing '.0' / scientific form ('123.0', '5.5e+14') — and Decimals
    as their exact digit string ('123', '12345.67'). Types are NOT
    folded together: a Decimal column on the Spark side (pyarrow
    materialization) vs the float64 DuckDB gives for EVERY decimal is a
    render mismatch at any magnitude — which is exactly how the driver
    red-flagged embedding_health at sf0.01 even though all values were
    under 2^53 and bit-equal. Since §6 bans decimal OUTPUT columns
    (cast to double or split-BIGINT instead; the sf0.01 dump has zero),
    any hit here is a reintroduction to fix, never a false alarm.
    int64 columns can't pair with float64 when schema_parity is clean:
    DuckDB materializes matching SQL types identically, and nullable
    ints go float64 through BOTH pandas paths.
    """
    if v is None:
        return "NULL"
    import datetime
    # a DATE column is datetime.date via pyarrow but datetime64 (midnight
    # timestamp) via DuckDB's .df() — same declared type, same value.
    # Fold uniformly: any tz-naive midnight instant renders as its date.
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    # pyarrow's to_pandas leaves array cells as np.ndarray, which is
    # neither list nor tuple and whose `v != v` is ambiguous — recurse
    # through the list branch before the NaN check can ever see one
    if hasattr(v, "tolist") and not hasattr(v, "isoformat"):
        try:
            lv = v.tolist()
        except Exception:
            lv = None
        if isinstance(lv, list):
            return "[" + ",".join(render(x) for x in lv) + "]"
        if lv is not None and lv is not v:
            return render(lv)  # numpy scalar -> python int/float
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{render(v[k])}" for k in sorted(v)) + "}"
    try:  # Decimal, numpy scalar, int
        import decimal
        if isinstance(v, decimal.Decimal):
            # exact digit string, no float round-trip, no E-notation
            return str(int(v)) if v == v.to_integral_value() else str(v)
    except Exception:
        pass
    if v != v:  # NaT / NaN-like
        return "NULL"
    return str(v)


def canon(df):
    cols = sorted(df.columns)
    rendered = {c: [render(v) for v in df[c].tolist()] for c in cols}
    rows = sorted(zip(*(rendered[c] for c in cols)))
    return cols, rows


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad, ran = 0, 0
    secs = {}
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            continue  # restricted Verify run — not this sweep's failure
        ran += 1
        # the DRIVER-SIDE materialization of the Spark result: pyarrow,
        # not duckdb — this is the path on which decimals stay Decimal
        got = pd.concat([pq.read_table(f).to_pandas() for f in files],
                        ignore_index=True)
        t0 = time.perf_counter()
        try:
            want = con.sql(oracle[name]).df()
            err = None
        except Exception as e:
            err = e
        secs[name] = time.perf_counter() - t0
        took = f" [duckdb {secs[name]:.2f} s]"
        if err is not None:
            print(f"FAIL {name}: oracle SQL failed: {err}{took}")
            bad += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} "
                  f"!= {sorted(want.columns)}{took}")
            bad += 1
            continue
        gc, gr = canon(got)
        wc, wr = canon(want)
        if len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} != {len(wr)}{took}")
            bad += 1
            continue
        diff = next((i for i, (a, b) in enumerate(zip(gr, wr)) if a != b),
                    None)
        if diff is not None:
            a, b = gr[diff], wr[diff]
            cols = [(c, x, y) for c, x, y in zip(gc, a, b) if x != y]
            print(f"FAIL {name}: render diff at sorted-row {diff}: "
                  + "; ".join(f"{c}: spark={x!r} oracle={y!r}"
                              for c, x, y in cols[:3]) + took)
            bad += 1
        else:
            print(f"OK   {name} ({len(gr)} rows){took}")
    if secs:
        print("\nslowest DuckDB queries:")
        for name in sorted(secs, key=secs.get, reverse=True)[:5]:
            print(f"  {secs[name]:8.2f} s  {name}")
    print(f"\n{ran - bad}/{ran} dumped queries render-parity clean "
          f"({len(oracle) - ran} not dumped)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
