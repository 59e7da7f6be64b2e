#!/usr/bin/env python3
"""Row-identity compare of two Verify output dirs.

Each dir is what `sbt "runMain graft.Verify <sfDir> <outDir>"` writes:
one sub-directory of parquet files per entry. Every entry is
canonicalised as tools/check_oracle.py canonicalises a Spark result
(columns sorted by name, rows sorted by all columns, numbers
normalised), rendered as strings and hashed. Entries whose hashes
differ, and entries present in only one dir, are listed.

Usage: python3 tools/compare_verify.py <dirA> <dirB>
Exit status: 0 when every entry is row-identical, 1 otherwise.
"""
import glob
import hashlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon  # noqa: E402


def entries(out_dir: str) -> dict:
    """Entry name -> sorted parquet files, for every entry sub-dir."""
    return {
        name: sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        for name in sorted(os.listdir(out_dir))
        if os.path.isdir(os.path.join(out_dir, name))
    }


def digest(files: list) -> tuple:
    """(row count, sha256) of the canonical rows of one entry."""
    if not files:
        return 0, "no parquet files"
    df = canon(pd.concat([pd.read_parquet(f) for f in files],
                         ignore_index=True))
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(df.astype(str).to_csv(index=False).encode())
    return len(df), h.hexdigest()


def main(dir_a: str, dir_b: str) -> int:
    a, b = entries(dir_a), entries(dir_b)
    same, differ = 0, []
    for name in sorted(a.keys() & b.keys()):
        da, db = digest(a[name]), digest(b[name])
        if da == db:
            same += 1
        else:
            differ.append(name)
            print(f"DIFFER {name}: {da[0]} rows vs {db[0]} rows")
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    for name in only_a:
        print(f"ONLY-A {name}")
    for name in only_b:
        print(f"ONLY-B {name}")
    print(f"== {same} identical, {len(differ)} differ, "
          f"{len(only_a)} only in A, {len(only_b)} only in B ==")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
