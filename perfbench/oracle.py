#!/usr/bin/env python3
"""Recompute perfbench/golden.json: the DuckDB oracle answer for the
dedup_corpus workload.

    python3 perfbench/oracle.py

The corpus is fixed (the seed only permutes row order), so its answer is
computed once here instead of in every run: the program's own oracle SQL
for p_dedup_survivors and p_prefix_jaccard (`graft.SparkEntry.oracleSql`)
runs in DuckDB over the corpus, and the digests of both results are stored.
Each benchmark job's output must match them. The all-pairs oracle is
quadratic in the corpus size; at 5000 documents it takes tens of minutes.
Rerun it whenever `Inputs.corpus` changes; a run whose corpus digest differs
from golden.json fails its output check.
"""
import argparse
import decimal
import hashlib
import json
import os
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def sha256_lines(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def jaccard6(x):
    # same rounding as Golden.pairsDigest: shortest decimal, then HALF_EVEN
    return decimal.Decimal(repr(float(x))).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_EVEN)


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    classes, _, _ = run.ensure_build()
    with tempfile.TemporaryDirectory(dir=run.build_dir()) as d:
        code = run.run_jvm(run.java_cmd(classes, "graft.perfbench.CorpusDump", [d]),
                           os.path.join(d, "dump.log"), 300)
        if code != 0:
            sys.stderr.write(run.tail(os.path.join(d, "dump.log")))
            sys.exit("corpus dump failed")
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM read_json("
                    f"'{d}/documents.jsonl', format='newline_delimited', columns="
                    "{'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR', "
                    "'source': 'VARCHAR', 'n_chars': 'BIGINT'})")
        golden = {"corpus_sha256": open(f"{d}/corpus_sha256.txt").read().strip(),
                  "docs": str(con.execute("SELECT count(*) FROM documents").fetchone()[0])}
        for gate in ("p_dedup_survivors", "p_prefix_jaccard"):
            sql = open(f"{d}/{gate}.sql").read().strip()
            t = time.time()
            rows = con.execute(sql).fetchall()
            print(f"{gate}: {len(rows)} rows in {time.time() - t:.0f}s", flush=True)
            if gate == "p_dedup_survivors":
                lines = [f"{i}|{lang}|{src}" for i, lang, src in sorted(rows)]
            else:
                lines = [f"{x}|{y}|{jaccard6(j)}" for x, y, j in sorted(rows, key=lambda r: (r[0], r[1]))]
            golden[gate] = sha256_lines(lines)
            golden[gate + "_rows"] = str(len(rows))
            golden[gate + "_sql_sha256"] = hashlib.sha256(sql.encode()).hexdigest()
    with open(os.path.join(run.HERE, "golden.json"), "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(golden, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
