#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare row counts, schemas (loosely), and values (exact for ints/strings,
tiny tolerance reported for floats so we can see if exactness holds).

Usage: python3 tools/check_correctness.py [sfdir] [outdir] [--no-run]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}']
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-2000:])
        sys.exit("verify run failed")
    # Verify names a failed query on stderr, which sbt passes through
    # unprefixed and apart from stdout
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def canon(df):
    # sort columns by name, then rows by all columns (mimics driver compare)
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort", na_position="first").reset_index(drop=True)


def compare(name, spark_df, oracle_df):
    issues = []
    if list(sorted(spark_df.columns)) != list(sorted(oracle_df.columns)):
        return [f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"]
    if len(spark_df) != len(oracle_df):
        issues.append(f"row count spark={len(spark_df)} oracle={len(oracle_df)}")
        return issues
    a, b = canon(spark_df), canon(oracle_df)
    for col in a.columns:
        x, y = a[col], b[col]
        if x.dtype.kind in "fc" or y.dtype.kind in "fc":
            xx = pd.to_numeric(x, errors="coerce")
            yy = pd.to_numeric(y, errors="coerce")
            neq = ~((xx == yy) | (xx.isna() & yy.isna()))
            if neq.any():
                i = neq.idxmax()
                mx = (xx - yy).abs().max()
                issues.append(f"col {col}: {int(neq.sum())} exact-mismatches, max abs diff {mx} (e.g. row {i}: {xx[i]} vs {yy[i]})")
        else:
            xs, ys = x.astype(str), y.astype(str)
            neq = ~(xs == ys)
            if neq.any():
                i = neq.idxmax()
                issues.append(f"col {col} ({x.dtype} vs {y.dtype}): {int(neq.sum())} mismatches (e.g. row {i}: {xs[i]!r} vs {ys[i]!r})")
    # dtype drift is a FAILURE, not a note: the driver hashes TYPED
    # values, so spark int64 vs oracle float64 (e.g. a DuckDB HUGEINT
    # from sum(CASE...)) breaks its hash even when every value is
    # numerically equal — exactly how q132 once failed its hash check.
    for col in a.columns:
        if str(a[col].dtype) != str(b[col].dtype):
            issues.append(f"dtype {col}: spark={a[col].dtype} oracle={b[col].dtype} (driver hashes typed values — cast the oracle)")
    return issues


# Oracle output types must be ones pandas materializes identically to
# Spark's parquet types. HUGEINT (DuckDB's sum(CASE...)/sum(int) result)
# lands as float64 while Spark writes int64 — the q132 failure class.
ALLOWED_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE",
                 "FLOAT", "VARCHAR", "DATE", "BOOLEAN"}
ALLOWED_PREFIXES = ("DECIMAL(", "TIMESTAMP")  # both sides land float64 / datetime64


def sweep_oracle_types(con, oracle):
    """One-shot assertion over every oracle SQL's DuckDB result types."""
    bad = 0
    for name in sorted(oracle):
        try:
            desc = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
        except Exception as e:
            print(f"FAIL type-sweep {name}: DESCRIBE error: {e}")
            bad += 1
            continue
        for cname, ctype, *_ in desc:
            t = ctype.upper()
            if t in ALLOWED_TYPES or t.startswith(ALLOWED_PREFIXES):
                continue
            print(f"FAIL type-sweep {name}: column {cname} is {ctype} — "
                  f"pandas will not materialize it like Spark's parquet "
                  f"type (CAST it in the oracle SQL)")
            bad += 1
    print(f"pin  oracle type sweep: {len(oracle)} oracles, {bad} bad columns")
    return bad == 0


def selftest():
    """The replica must FAIL on a planted HUGEINT column (q132 class)."""
    con = duckdb.connect()
    spark_df = con.execute("SELECT 1::BIGINT AS k, 3::BIGINT AS n").df()
    oracle_df = con.execute(
        "SELECT 1::BIGINT AS k, sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n"
        " FROM (SELECT unnest([1, 2, 3]) AS x)").df()
    issues = compare("selftest", spark_df, oracle_df)
    real = [i for i in issues if not i.startswith("NOTE")]
    if not real:
        sys.exit("SELFTEST FAIL: planted HUGEINT column was not flagged")
    print(f"selftest ok: planted HUGEINT flagged -> {real}")
    sweep = sweep_oracle_types(con, {"planted": "SELECT sum(CASE WHEN 1=1 THEN 1 ELSE 0 END) AS n"})
    if sweep:
        sys.exit("SELFTEST FAIL: type sweep passed a HUGEINT oracle")
    print("selftest ok: type sweep flags HUGEINT")
    sys.exit(0)


MAX_DF = 256  # Dedup.DefaultMaxDf — mirrored by the q58 oracle cap


def pin_q58_margins(con):
    """q58's within-delta edges come from MinHash-LSH while its oracle
    enumerates exact Jaccard pairs; the hash match is deterministic only
    while every true pair sits comfortably above the 0.8 threshold (LSH
    miss prob ~1.5% at 0.80, ~3e-3 at 0.85). PipelineOpsSpec pins that at
    the spec fixture; this pins it at THIS gate-scale dataset, so a
    regenerated fixture with near-threshold pairs fails loudly here."""
    q = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') t FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, t[g.i] || ' ' || t[g.i+1] || ' ' || t[g.i+2] AS s
  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) g
  WHERE len(t) >= 3
  UNION
  SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) < 3
), shx AS (
  SELECT * FROM sh0
  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {MAX_DF})
), shd AS (SELECT * FROM shx WHERE doc_id % 2 = 1
), szd AS (SELECT doc_id, count(*) n FROM shd GROUP BY 1)
SELECT min(x.inter * 1.0 / (sa.n + sb.n - x.inter)) FROM (
  SELECT a.doc_id i, b.doc_id j, count(*) inter
  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
) x JOIN szd sa ON sa.doc_id = x.i JOIN szd sb ON sb.doc_id = x.j
WHERE x.inter * 1.0 / (sa.n + sb.n - x.inter) >= 0.8"""
    m = con.execute(q).fetchone()[0]
    if m is None:
        print("pin  q58 within-delta margins: no above-threshold pairs")
        return True
    print(f"pin  q58 within-delta min jaccard among true pairs: {m:.3f}")
    if m < 0.85:
        print(f"FAIL q58 margin pin: a true within-delta pair at jaccard "
              f"{m:.3f} < 0.85 — the LSH==exact oracle hash match is at "
              f"risk at this dataset")
        return False
    return True


def pin_q59_margins(con):
    """q59's determinism rests on every true (>= 0.9 cosine) pair being an
    IDENTICAL-vector pair (found by any LSH banding with probability 1)
    and everything else sitting far below threshold. Pin both at THIS
    dataset: no cross or within-delta pair may fall in [0.85, 0.999) —
    a near-threshold pair would make the 16x8-banded Spark side diverge
    from the exact-cosine oracle on a regenerated fixture."""
    q = """
WITH delta AS (
  SELECT vec_id * 4 + 1 AS vid, embedding AS v
  FROM embeddings WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id * 4 + 1, embedding[14:] || embedding[:13]
  FROM embeddings WHERE vec_id % 10 = 1
  UNION ALL
  SELECT vec_id * 4 + 1, embedding[14:] || embedding[:13]
  FROM embeddings WHERE vec_id % 10 = 2
  UNION ALL
  SELECT vec_id * 4 + 2, embedding[14:] || embedding[:13]
  FROM embeddings WHERE vec_id % 10 = 2
), cp AS (
  -- src tag kept through the grouping: delta vids overlap corpus ids
  -- (multiplicative encoding), so a cross and a within pair can share
  -- the numeric (i, j) — grouping without the tag would merge their
  -- unnested vectors into one garbage cosine
  SELECT 'c' src, c.vec_id i, d.vid j, c.embedding va, d.v vb
  FROM embeddings c, delta d
  UNION ALL
  SELECT 'w', a.vid, b.vid, a.v, b.v FROM delta a JOIN delta b ON a.vid < b.vid
), ex AS (SELECT src, i, j, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM cp),
d AS (SELECT src, i, j, SUM(x*y)/sqrt(SUM(x*x))/sqrt(SUM(y*y)) cos
      FROM ex GROUP BY 1, 2, 3)
SELECT count(*) FILTER (cos >= 0.85 AND cos < 0.999) near_threshold,
       max(cos) FILTER (cos < 0.999) max_other,
       count(*) FILTER (cos >= 0.999) planted
FROM d"""
    near, max_other, planted = con.execute(q).fetchone()
    print(f"pin  q59 margins: planted={planted} (all >= 0.999), "
          f"max non-planted cos={max_other:.3f}, near-threshold pairs={near}")
    if near and near > 0:
        print(f"FAIL q59 margin pin: {near} pair(s) with cosine in "
              f"[0.85, 0.999) — LSH==exact determinism at risk at this dataset")
        return False
    if not planted:
        print("FAIL q59 margin pin: no planted identical pairs found")
        return False
    return True


def main():
    if "--selftest" in sys.argv:
        selftest()
    if "--no-run" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    ok = fail = 0
    if not sweep_oracle_types(con, oracle):
        fail += 1
    if not pin_q58_margins(con):
        fail += 1
    if not pin_q59_margins(con):
        fail += 1
    for name in sorted(oracle):
        d = OUT / name
        if not d.exists():
            print(f"FAIL {name}: no spark output written"); fail += 1; continue
        spark_df = duckdb.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        try:
            oracle_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); fail += 1; continue
        issues = compare(name, spark_df, oracle_df)
        real = [i for i in issues if not i.startswith("NOTE")]
        notes = [i for i in issues if i.startswith("NOTE")]
        if real:
            fail += 1
            print(f"FAIL {name} ({len(spark_df)} rows)")
            for i in issues:
                print(f"   {i}")
        else:
            ok += 1
            print(f"ok   {name} ({len(spark_df)} rows)" + (f"  [{'; '.join(notes)}]" if notes else ""))
    print(f"\n{ok} ok, {fail} fail")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
