#!/usr/bin/env python3
"""Local differential check mimicking the driver's t2 gate:
runs DuckDB oracle SQL against the sf parquet tables and compares to the
parquet dumped by `graft.Verify`. Usage:
    python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out [query ...]

The comparison logic lives in `compare_frames` so tools/test_check_oracle.py
can exercise it against planted regressions (e.g. an un-cast SUM(BIGINT)
whose DuckDB HUGEINT surfaces as float64 OR object dtype).

Each ok/FAIL line ends with the seconds DuckDB took for that oracle; the
ten slowest oracles are listed at the end, then, by name, every oracle over
ORACLE_BUDGET_S. The budget only reports: the exit code is the match result.
"""
import sys, os, json, glob, time
import pandas as pd
import numpy as np


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _values_identical(a, b):
    """Exact cross-dtype value equality for the TYPE-ONLY diagnostic tag.
    Deliberately avoids astype('float64'): int64 above 2^53 loses
    precision there, which could label genuinely-different values as
    'identical'. String rendering of Python ints/NaNs is exact."""
    sa = pd.Series(a).map(lambda v: "NaN" if pd.isna(v) else str(v))
    sb = pd.Series(b).map(lambda v: "NaN" if pd.isna(v) else str(v))
    # normalize float renderings like '3.0' vs int '3'
    def norm(s):
        return s[:-2] if s.endswith(".0") else s
    return bool((sa.map(norm).values == sb.map(norm).values).all())


def compare_frames(name, spark_df, duck_df):
    """Returns (ok, [messages]); mirrors the driver's type-sensitive hash."""
    msgs = []
    spark_df, duck_df = canon(spark_df), canon(duck_df)
    if list(spark_df.columns) != list(duck_df.columns):
        return False, [f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return False, [f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}"]
    for c in spark_df.columns:
        a, b = spark_df[c].values, duck_df[c].values
        # The driver's hash is TYPE-sensitive: a DuckDB HUGEINT
        # (surfacing here as float64 OR object dtype) vs a Spark BIGINT
        # hashes differently even when every value is numerically
        # identical (r9 verdict: q179/q192; r10 verdict: the 'O'-kind
        # hole). Mirror that strictness: any numeric-kind disagreement —
        # int vs float, int vs object, float vs object — is a FAIL even
        # if values match, reported TYPE-ONLY so it's attributable (the
        # fix is a CAST in the oracle SQL, not in the engine). An
        # object-vs-object column (strings both sides) is fine.
        ka, kb = a.dtype.kind, b.dtype.kind
        numeric, objk = ("i", "u", "f"), "O"
        both_numeric_mismatch = ka in numeric and kb in numeric and \
            ((ka == "f") != (kb == "f"))
        one_object = (ka == objk and kb in numeric) or (kb == objk and ka in numeric)
        if both_numeric_mismatch or one_object:
            tag = ("TYPE-ONLY mismatch (values identical)"
                   if _values_identical(a, b) else "type AND value mismatch")
            msgs.append(f"FAIL {name}: col {c} dtype spark={a.dtype} duck={b.dtype} — {tag};"
                        f" driver hash would red this — CAST the oracle SQL")
            return False, msgs
        if ka in ("f",) or kb in ("f",):
            eq = (pd.isna(a) & pd.isna(b)) | (a == b)
        else:
            eq = (pd.Series(a).astype(str).values == pd.Series(b).astype(str).values)
        if not eq.all():
            i = int(np.argmin(eq))
            msgs.append(f"FAIL {name}: col {c} differs at row {i}: spark={a[i]!r} duck={b[i]!r}"
                        f" (dtypes {a.dtype}/{b.dtype}, {int((~eq).sum())} diffs)")
            return False, msgs
    return True, msgs


def unknown_only_names(only, oracle_names):
    """Names requested via `only` that oracle_sql.json does not carry —
    failures, never silent skips (a typo used to print '1/1 match' and
    exit 0 without verifying anything). Pure so the self-test drives it."""
    return sorted(set(only) - set(oracle_names)) if only else []


def slowest(seconds, n=10):
    """The n slowest oracles of {name: DuckDB seconds}, slowest first
    (ties by name). Pure so the self-test drives it."""
    return sorted(seconds.items(), key=lambda kv: (-kv[1], kv[0]))[:n]


# DuckDB seconds one oracle may take: perfbench's oracle budget. The
# oracles over it are where a run at a larger SF has to start cutting.
ORACLE_BUDGET_S = 20.0


def over_budget(seconds, budget=ORACLE_BUDGET_S):
    """Names of the oracles that took more than `budget` DuckDB
    seconds, slowest first (ties by name). Pure so the self-test drives it."""
    return [name for name, secs in slowest(seconds, len(seconds)) if secs > budget]


def main():
    import duckdb
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    fails = []
    seconds = {}
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fails.append(name); print(f"FAIL {name}: no spark output"); continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        t0 = time.perf_counter()
        duck_df = con.execute(oracle[name]).df()
        seconds[name] = time.perf_counter() - t0
        took = f" [duckdb {seconds[name]:.2f} s]"
        ok, msgs = compare_frames(name, spark_df, duck_df)
        for m in msgs:
            print(m + took)
        if ok:
            print(f"ok   {name}: {len(spark_df)} rows{took}")
        else:
            fails.append(name)

    # a name passed as `only` but absent from oracle_sql.json is a
    # FAILURE, not a silent skip (advisor r11)
    for name in unknown_only_names(only, oracle):
        fails.append(name)
        print(f"FAIL {name}: not in oracle_sql.json (typo'd name, or a "
              f"no-oracle query — pass its real prefix to graft.Verify first)")

    print(f"\nslowest oracles ({sum(seconds.values()):.1f} s DuckDB in total):")
    for name, secs in slowest(seconds):
        print(f"  {secs:8.2f} s  {name}")
    over = over_budget(seconds)
    print(f"\n{len(over)} oracles over the {ORACLE_BUDGET_S:g} s budget: "
          f"{' '.join(over) or 'none'}")
    checked = len(only) if only else len(oracle)
    print(f"\n{checked - len(fails)}/{checked} match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
