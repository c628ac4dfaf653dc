#!/usr/bin/env python3
"""Computes the expected answers the benchmark checks results against,
with DuckDB over the benchmark's fixed dataset, and writes
perfbench/expected/oracle.json:

  - every registry query that publisher_mix times, from the registry's
    own oracle SQL (graft.SparkEntry.oracleSql), as a canonical digest
    (check.canon_hash: tools/check_oracle.py's rules);
  - every endpoint response over the endpoint parameter domains;
  - each oracle's runtime, and by name every oracle over BUDGET_S.

The query list and the parameter domains come from PublisherMix, through
perfbench.OracleSql. Run from the repository root after changing the
dataset, the query list or the parameter domains:

    python3 perfbench/oracle.py
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

BUDGET_S = 20.0
GMV_DAY = "1998-03-15"


def coverage(cp):
    """{"queries": {name: oracle SQL}, "days", "keywords", "pages"} from
    perfbench.OracleSql."""
    p = subprocess.run(run.java_cmd(cp, "perfbench.OracleSql", [], "1g"),
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def timed(con, sql):
    t0 = time.time()
    df = con.execute(sql).df()
    return df, time.time() - t0


def endpoints(con, days, keywords, pages):
    out = {}
    gmv = con.execute(f"""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = '{GMV_DAY}'""").fetchone()[0] or 0.0
    for day in days:
        dau = con.execute(f"""SELECT COUNT(DISTINCT user_id) FROM events
            WHERE strftime(ts, '%Y-%m-%d') = '{day}'""").fetchone()[0]
        new = con.execute(f"""SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM events
            WHERE ts >= TIMESTAMP '{day}' AND ts < TIMESTAMP '{day}' + INTERVAL 1 DAY
              AND user_id NOT IN (SELECT user_id FROM events WHERE ts < TIMESTAMP '{day}'))""").fetchone()[0]
        out[f"realtime_total@{day}"] = [
            {"id": "dau", "name": "新增日活", "value": str(dau)},
            {"id": "new_mid", "name": "新增设备", "value": str(new)},
            {"id": "order_amount", "name": "新增交易额", "value": repr(float(gmv))}]
        prev = con.execute(f"SELECT strftime(DATE '{day}' - 1, '%Y-%m-%d')").fetchone()[0]
        rows = con.execute(f"""SELECT strftime(ts, '%H') AS lh,
              CAST(SUM(CASE WHEN strftime(ts, '%Y-%m-%d') = '{day}' THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN strftime(ts, '%Y-%m-%d') = '{prev}' THEN 1 ELSE 0 END) AS BIGINT)
            FROM events WHERE ts >= TIMESTAMP '{prev}' AND ts < TIMESTAMP '{day}' + INTERVAL 1 DAY
            GROUP BY 1 ORDER BY 1""").fetchall()
        out[f"realtime_hours@{day}"] = [[h, int(t), int(y)] for h, t, y in rows]
    band = con.execute("""WITH c AS (SELECT COUNT(*) AS total,
            SUM(CASE WHEN c_acctbal < 3000 THEN 1 ELSE 0 END) AS low_ct,
            SUM(CASE WHEN c_acctbal >= 3000 AND c_acctbal < 7000 THEN 1 ELSE 0 END) AS mid_ct
          FROM customer),
        r AS (SELECT FLOOR(low_ct * 1000.0 / total + 0.5) / 10.0 AS lo,
                     FLOOR(mid_ct * 1000.0 / total + 0.5) / 10.0 AS mi FROM c)
        SELECT lo, mi, 100.0 - lo - mi FROM r""").fetchone()
    seg = con.execute("""SELECT FLOOR(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
        * 1000.0 / COUNT(*) + 0.5) / 10.0 FROM customer""").fetchone()[0]
    stat = [{"title": "用户等级占比", "options": [["low", band[0]], ["mid", band[1]], ["high", band[2]]]},
            {"title": "用户性别占比", "options": [["seg", seg], ["rest", 100.0 - seg]]}]
    for kw in keywords:
        pred = " AND ".join(f"regexp_matches(lower(p_name), '(^|[^a-z0-9]){t}([^a-z0-9]|$)')"
                            for t in kw.split())
        total = con.execute(f"SELECT COUNT(*) FROM part WHERE {pred}").fetchone()[0]
        for page in range(1, pages + 1):
            names = [r[0] for r in con.execute(f"""SELECT p_name FROM part WHERE {pred}
                ORDER BY p_partkey LIMIT 10 OFFSET {(page - 1) * 10}""").fetchall()]
            out[f"sale_detail@{kw.replace(' ', '_')}@{page}"] = {
                "total": int(total), "detail": names, "stat": stat}
    return out


def main():
    import duckdb
    cp = run.build()
    data = os.path.join(run.build_dir(), "oracle-data")
    fp = gen.write(data)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cov = coverage(cp)
    queries, over = {}, []
    for n in sorted(cov["queries"]):
        sql = cov["queries"][n]
        if not sql:
            queries[n] = {"hash": None, "rows": None, "oracle_s": None}
            print(f"{n}: no oracle SQL", file=sys.stderr)
            continue
        df, secs = timed(con, sql)
        h, rows = check.canon_hash(df)
        queries[n] = {"hash": h, "rows": rows, "oracle_s": round(secs, 3)}
        if secs > BUDGET_S:
            over.append(n)
        print(f"{n}: {rows} rows in {secs:.2f}s", file=sys.stderr)
    t0 = time.time()
    eps = endpoints(con, cov["days"], cov["keywords"], cov["pages"])
    out = {"data_fingerprint": fp, "duckdb": duckdb.__version__, "budget_s": BUDGET_S,
           "over_budget": over, "endpoints_oracle_s": round(time.time() - t0, 3),
           "queries": queries, "endpoints": eps}
    with open(os.path.join(HERE, "expected", "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")


if __name__ == "__main__":
    main()
