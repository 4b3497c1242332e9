#!/usr/bin/env python3
"""Build the verbatim-duplication verify fixture (r19).

Creates <out_dir> as a copy of <sf_dir> with every table symlinked except
documents.parquet, which is replaced by K verbatim replicas of every
document (same text/lang/source/n_chars, replica k's doc_id shifted by
k*(max(doc_id)+1) so ids stay distinct whatever their range and ORDER BY
doc_id stays deterministic). Running
graft.Verify + tools/compare_oracle.py against the fixture forces every
verbatim-collapse dispatch (span family, lm_score, the dedup text-group
collapse) onto its COLLAPSE branch — watch the `[span-dispatch]` stderr
lines — so both dispatch arms are DuckDB-proven, not just unit-specced.

Usage: python3 tools/make_dup_fixture.py [sf_dir] [out_dir] [k]
Defaults: /root/testdata/sf0.01 /root/fixtures/sf0.01x3 3
"""
import os
import sys

import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/root/fixtures/sf0.01x3"
k = int(sys.argv[3]) if len(sys.argv) > 3 else 3

os.makedirs(out, exist_ok=True)
for f in os.listdir(sf):
    if not f.endswith(".parquet") or f == "documents.parquet":
        continue
    dst = os.path.join(out, f)
    if os.path.lexists(dst):
        os.remove(dst)
    os.symlink(os.path.join(sf, f), dst)

con = duckdb.connect()
ks = ",".join(str(i) for i in range(k))
# replica stride: one past the largest id, so with non-negative ids no
# shifted id can land on an original or on another replica's id
lo, stride = con.execute(
    f"SELECT min(doc_id), max(doc_id) + 1 "
    f"FROM read_parquet('{sf}/documents.parquet')").fetchone()
if lo is None or lo < 0:
    sys.exit(f"{sf}/documents.parquet: need a non-empty table with "
             f"non-negative doc_ids")
con.execute(f"""
COPY (
  SELECT doc_id + {stride}*k AS doc_id, text, lang, source, n_chars
  FROM read_parquet('{sf}/documents.parquet'),
       (SELECT unnest([{ks}]) AS k)
  ORDER BY doc_id
) TO '{out}/documents.parquet' (FORMAT PARQUET)
""")
n, d = con.execute(
    f"SELECT count(*), count(DISTINCT text) "
    f"FROM read_parquet('{out}/documents.parquet')").fetchone()
print(f"{out}: {n} docs, {d} distinct texts (duplication factor {n/d:.1f})")
