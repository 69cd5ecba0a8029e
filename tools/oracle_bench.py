#!/usr/bin/env python3
"""Time each oracle SQL in DuckDB over the fixture tables: the DuckDB
half of graft.Bench's same-window engine pair.

Usage: python3 tools/oracle_bench.py <sfdir> <dir_with_oracle_sql.json>

Runs every query in oracle_sql.json, in numeric name order (the bench's
own sequence order), and prints one JSON summary line last with the
per-query times, so a caller can sum the same queries on the Spark side.
graft.Bench writes only its fixed oracle window (Bench.oracleWindow) into
the file, so every full bench run pairs the same queries.

A hard deadline (DEADLINE_S) guards against a hung or runaway query:
con.interrupt() cancels the in-flight query, no further query starts,
and the summary still prints, with an "error" field naming the query
that was not timed. A query DuckDB rejects is reported as ERR and left
out of the times.
"""
import sys, json, time, threading, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Twice the window's 120 s DuckDB budget, plus start-up headroom.
DEADLINE_S = 270


def qnum(name):
    d = ""
    for ch in name[1:]:
        if ch.isdigit():
            d += ch
        else:
            break
    return int(d) if d else 0


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; locally generated scale fixtures
        # (graft.DataGen) are multi-file directories -- glob those
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    ordered = sorted(oracle.items(), key=lambda kv: (qnum(kv[0]), kv[0]))
    total = 0.0
    times = {}
    error = None
    start = time.time()
    timer = threading.Timer(DEADLINE_S, con.interrupt)
    timer.daemon = True
    timer.start()
    for name, sql in ordered:
        t0 = time.time()
        try:
            if t0 - start >= DEADLINE_S:
                raise TimeoutError("not started")
            con.sql(sql).df()
            dt = time.time() - t0
        except Exception as e:
            if time.time() - start >= DEADLINE_S:
                error = f"deadline {DEADLINE_S}s: {name} not timed"
                print(f"DEADLINE  {name} (not counted)")
                break
            print(f"ERR  {name}: {e}")
            continue
        times[name] = round(dt, 3)
        total += dt
    timer.cancel()
    for name, dt in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{name:28s} {dt:8.3f}")
    rec = {"metric": "oracle_total", "value": round(total, 3),
           "unit": "sec", "n": len(times), "sf": sfdir, "times": times}
    if error is not None:
        rec["error"] = error
    print(json.dumps(rec))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
