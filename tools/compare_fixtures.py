#!/usr/bin/env python3
"""Identity compare of two fixture trees (e.g. two /tmp/graft_fixture
builds, one per commit).

Every file is matched by its path relative to the tree root:
- a directory holding parquet files (a Spark write, whose part-file
  names are random) is one sidecar, compared by the hash of its
  canonical rows (tools/check_oracle.py's canonicalisation, as
  tools/compare_verify.py does); its .crc and _SUCCESS files are part
  of it and not compared on their own
- a `.built*` marker is compared with its per-build nonce (the
  `|<nanoTime>` token a source fixture appends, and its derived
  fixtures copy) masked
- every other file is compared byte for byte

Usage: python3 tools/compare_fixtures.py [--exclude GLOB]... <dirA> <dirB>
  --exclude GLOB  skip every path with a component (or the whole
                  relative path) matching GLOB; repeatable
Exit status: 0 when every file and sidecar is identical and markers
differ at most in their nonce, 1 otherwise (one-sided paths included).
"""
import argparse
import fnmatch
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_verify import digest  # noqa: E402

NONCE = re.compile(r"\|\d{6,}")


def excluded(rel: str, patterns: list) -> bool:
    parts = rel.split(os.sep)
    return any(fnmatch.fnmatch(rel, p) or
               any(fnmatch.fnmatch(c, p) for c in parts) for p in patterns)


def scan(root: str, patterns: list) -> dict:
    """Relative path -> (kind, payload) for every file and sidecar."""
    out = {}
    for d, subdirs, files in os.walk(root):
        subdirs.sort()
        rel_d = os.path.relpath(d, root)
        if rel_d != "." and excluded(rel_d, patterns):
            subdirs[:] = []
            continue
        parquet = sorted(f for f in files if f.endswith(".parquet"))
        if parquet:
            out[rel_d + "/*.parquet"] = (
                "sidecar", [os.path.join(d, f) for f in parquet])
        for f in sorted(files):
            rel = os.path.normpath(os.path.join(rel_d, f))
            if parquet and (f.endswith(".parquet") or f.endswith(".crc") or
                            f == "_SUCCESS"):
                continue
            if excluded(rel, patterns):
                continue
            kind = "marker" if f.startswith(".built") else "file"
            out[rel] = (kind, os.path.join(d, f))
    return out


def sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def compare(kind: str, a, b) -> str:
    """'same', 'nonce' (markers equal once the nonce is masked) or a
    reason they differ."""
    if kind == "sidecar":
        da, db = digest(a), digest(b)
        return "same" if da == db else f"rows {da[0]} vs {db[0]}, hash differs"
    if kind == "marker":
        ta, tb = open(a).read(), open(b).read()
        if ta == tb:
            return "same"
        if NONCE.sub("|<nonce>", ta) == NONCE.sub("|<nonce>", tb):
            return "nonce"
        return f"{ta!r} vs {tb!r}"
    return "same" if sha(a) == sha(b) else "bytes differ"


def main(argv: list) -> int:
    ap = argparse.ArgumentParser(usage=__doc__)
    ap.add_argument("--exclude", action="append", default=[])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    args = ap.parse_args(argv)
    a, b = scan(args.dir_a, args.exclude), scan(args.dir_b, args.exclude)
    counts = {"file": 0, "sidecar": 0, "marker": 0}
    nonce_only, differ = 0, []
    for rel in sorted(a.keys() & b.keys()):
        (ka, pa), (kb, pb) = a[rel], b[rel]
        verdict = compare(ka, pa, pb) if ka == kb else f"{ka} vs {kb}"
        if verdict == "same":
            counts[ka] += 1
        elif verdict == "nonce":
            nonce_only += 1
        else:
            differ.append(rel)
            print(f"DIFFER {rel}: {verdict}")
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    for rel in only_a:
        print(f"ONLY-A {rel}")
    for rel in only_b:
        print(f"ONLY-B {rel}")
    print(f"== {counts['file']} files byte-identical, {counts['sidecar']} "
          f"parquet sidecars row-identical, {counts['marker']} markers "
          f"identical, {nonce_only} markers differ only in their nonce; "
          f"{len(differ)} differ, {len(only_a)} only in A, "
          f"{len(only_b)} only in B ==")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
