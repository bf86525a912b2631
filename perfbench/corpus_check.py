#!/usr/bin/env python3
"""Compares gen.corpus with another copy of the corpus, such as the
read-only synthetic corpus the repository's correctness runs use:

    python3 perfbench/corpus_check.py REAL_DIR [--time]

It generates the corpus at REAL_DIR's scale factor (lineitem rows ÷ 6 M)
into .bench_build/data/, then prints, for every table the benchmark's
queries read, the row count and every column's distinct count, min, max
and null count on both sides, plus the document token statistics. With
--time it also runs the curation_graph passes over both corpora in fresh
JVMs (same warm-up and measuring rule as the benchmark) and prints each
query's median wall and output fingerprint row count.
"""
import argparse
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402


def profile(con, d, t):
    p = f"{d}/{t}.parquet"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{p}'").fetchall()]
    out = {"rows": con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]}
    for c in cols:
        out[c] = con.execute(
            f'SELECT count(DISTINCT "{c}"), min("{c}"), max("{c}"), '
            f'count(*) - count("{c}") FROM \'{p}\'').fetchone()
    if t == "documents":
        out["tokens/doc min,max,avg"] = con.execute(
            f"SELECT min(n), max(n), round(avg(n), 2) FROM (SELECT "
            f"len(string_split(text, ' ')) AS n FROM '{p}')").fetchone()
        out["vocabulary, ' dup' docs"] = con.execute(
            f"SELECT (SELECT count(DISTINCT w) FROM (SELECT unnest("
            f"string_split(text, ' ')) AS w FROM '{p}')), count(*) FILTER "
            f"(WHERE text LIKE '% dup') FROM '{p}'").fetchone()
    return out


def timings(data):
    cfg = run.WORKLOADS["curation_graph"]
    cp, _, _ = run.build()
    work = os.path.join(run.BUILD, "work", "corpus-check")
    shutil.rmtree(work, ignore_errors=True)
    jvm = run.Jvm(cp, work, time.time() + 600, cfg["jvm_flags"])
    res, _, _ = jvm.run(
        ["workload=curation_graph", "seed=1", f"corpus={data}",
         "queries=" + ",".join(cfg["queries"]), "seconds=20",
         f"warm_max={cfg['warm_max']}", f"steady={cfg['steady']}", "ref="],
        os.cpu_count() or 1, False)
    shutil.rmtree(work, ignore_errors=True)
    return {q: (statistics.median(o["wall_s"] for o in res["ops"]
                                  if o["name"] == q),
                next(o["fp"] for o in res["ops"] if o["name"] == q)
                .split(":")[0])
            for q in cfg["queries"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("real_dir")
    ap.add_argument("--time", action="store_true")
    args = ap.parse_args()
    con = checks.connect()
    rows = con.execute(f"SELECT count(*) FROM "
                       f"'{args.real_dir}/lineitem.parquet'").fetchone()[0]
    sf = round(rows / 6_000_000, 4)
    data, _ = run.corpus(sf)
    print(f"scale factor {sf}: {args.real_dir} vs generated {data}")
    for t in run.WORKLOADS["curation_graph"]["tables"] + [
            "orders", "customer", "supplier", "nation", "region"]:
        real, gen = profile(con, args.real_dir, t), profile(con, data, t)
        print(f"== {t}")
        for k in real:
            mark = "" if real[k] == gen.get(k) else "   <> "
            print(f"  {k:24s} {real[k]!s:60.60s}{mark}{gen.get(k)!s:.60s}")
    if args.time:
        real, gen = timings(args.real_dir), timings(data)
        print("query: median wall s / output rows, given vs generated")
        for q in real:
            print(f"  {q:24s} {real[q][0]:7.3f} / {real[q][1]:>6s}   "
                  f"{gen[q][0]:7.3f} / {gen[q][1]:>6s}")


if __name__ == "__main__":
    main()
