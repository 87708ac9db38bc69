#!/usr/bin/env python3
"""Materialized vs count() table for every olap and curation board op.

Usage (from the repository root):

    python3 perfbench/count_table.py [DATA_DIR] > perfbench/MATERIALIZED_VS_COUNT.md

DATA_DIR holds the corpus parquet files (default: the benchmark's sf0.01
copy). For each op the harness does one untimed touch, then three
alternating rounds of `df.count()` and `df.write.format("noop")`, and
reports the medians; the ratio is materialized / count. Takes minutes:
every op runs seven times.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

THRESHOLD = 1.5


def measure(family, data, out):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = run.java_cmd(["table", family, "3", data, out], out, "4g")
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return json.load(open(os.path.join(out, "table.json")))


def main():
    data = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else run.DATA
    run.build()
    print(f"# Materialized vs count() per board op\n\nCorpus: `{os.path.basename(data)}`; "
          f"{len(os.sched_getaffinity(0))} cores, `local[*]`. Seconds are medians of three "
          "warm rounds after one untimed touch; `cold` is that first touch.\n")
    for family in ("olap", "curation"):
        rows = measure(family, data, os.path.join(run.HERE, "out", f"table-{family}"))
        ok = [r for r in rows if "err" not in r]
        ok.sort(key=lambda r: -r["materialized_s"] / r["count_s"])
        above = [r["name"] for r in ok if r["materialized_s"] / r["count_s"] > THRESHOLD]
        print(f"## {family}\n")
        print(f"Above {THRESHOLD}x: {', '.join(above) or 'none'}.\n")
        print("| op | cold s | count() s | materialized s | ratio |")
        print("|---|---|---|---|---|")
        for r in ok:
            print(f"| {r['name']} | {r['cold_s']:.2f} | {r['count_s']:.2f} | "
                  f"{r['materialized_s']:.2f} | {r['materialized_s'] / r['count_s']:.2f} |")
        cnt = sum(r["count_s"] for r in ok)
        mat = sum(r["materialized_s"] for r in ok)
        print(f"| total ({len(ok)} ops) | {sum(r['cold_s'] for r in ok):.2f} | {cnt:.2f} | "
              f"{mat:.2f} | {mat / cnt:.2f} |")
        for r in rows:
            if "err" in r:
                print(f"\nFailed: {r['name']}: {r['err']}")
        print()


if __name__ == "__main__":
    main()
