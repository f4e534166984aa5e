#!/usr/bin/env python3
"""Cross-parallelism determinism sweep comparator.

Usage: python3 tools/compare_dumps.py <dirA> <dirB>

Compares every query subdirectory of two Verify dump dirs after a
column-name + row sort (the driver's canonicalization): bit-identical
engine output at two parallelism levels is the engine-wide payoff of the
integer-micro-unit / content-hash / total-order determinism discipline.
A query present in only one dump is a mismatch: a gate dropped on one
side must fail the comparison, not shrink it.

When both dumps carry `oracle_sql.json`, every oracle's SQL text is
compared too: an oracle that differs, or exists in only one dump, is a
mismatch. Oracles read the goldens of the checkout that wrote the dump, as
`read_parquet('<root>/<dir>/<sf>/...')`, so each dump's data root is found
from its own oracles: the part of each such path before `/<dir>/<sf>/`.
A dump must name exactly one root (none, or more than one, fails). That
root is replaced by one placeholder on both sides, and then every oracle
must match exactly.
"""
import sys
import os
import re
import glob
import json

import pandas as pd

a_dir, b_dir = sys.argv[1], sys.argv[2]

def canon(qdir: str) -> str:
    df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(os.path.join(qdir, "*.parquet"))],
        ignore_index=True)
    df = df[sorted(df.columns)]
    rows = sorted(df.astype(str).values.tolist())
    return "\n".join("\x1f".join(r) for r in rows)

def queries(d: str) -> set:
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

def compare(what: str, a_names, b_names, same, label: str) -> int:
    """Print every name missing from one side or differing; return their count."""
    names = sorted(set(a_names) | set(b_names))
    mism = 0
    for n in names:
        if n not in b_names:
            print(f"{what}MISSING {n} (only in {a_dir})")
        elif n not in a_names:
            print(f"{what}MISSING {n} (only in {b_dir})")
        elif same(n):
            continue
        else:
            print(f"{what}MISMATCH {n}")
        mism += 1
    print(f"{len(names) - mism}/{len(names)} {label}, {mism} mismatches")
    return mism

READ_PARQUET = re.compile(r"read_parquet\('([^']*?)/\w+/sf[0-9.]+/")

def unrooted(oracles: dict, where: str) -> dict:
    """The oracles with the dump's one data root replaced by a placeholder."""
    roots = {r for sql in oracles.values() for r in READ_PARQUET.findall(sql)}
    if len(roots) != 1:
        sys.exit(f"{where}: expected one data root, found {sorted(roots)}")
    root = roots.pop()
    return {n: sql.replace(f"read_parquet('{root}/", "read_parquet('<DATA_ROOT>/")
            for n, sql in oracles.items()}

mism = compare("", queries(a_dir), queries(b_dir),
               lambda n: canon(os.path.join(a_dir, n)) == canon(os.path.join(b_dir, n)),
               "queries bit-identical")

a_sql, b_sql = (os.path.join(d, "oracle_sql.json") for d in (a_dir, b_dir))
if os.path.exists(a_sql) and os.path.exists(b_sql):
    with open(a_sql) as fa, open(b_sql) as fb:
        a_or, b_or = json.load(fa), json.load(fb)
    a_or, b_or = unrooted(a_or, a_sql), unrooted(b_or, b_sql)
    mism += compare("ORACLE ", a_or, b_or, lambda n: a_or[n] == b_or[n],
                    "oracles identical")
sys.exit(1 if mism else 0)
