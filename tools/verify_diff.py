#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories face by face.

Usage: python3 tools/verify_diff.py <verifyOutA> <verifyOutB> [name ...]

For every face directory (`<dir>/<name>/*.parquet`) in either output,
reads its rows, canonicalizes them the way `check_correctness.py` does
(columns sorted by name, rows sorted by all columns), and prints one
table: the row count and a SHA-256 of the canonical rows on each side,
and whether they are identical. With names given, only those faces are
compared. A face written on one side only (or, when named, on
neither), or with a different schema, row count or hash, is a
difference. Exit 1 on any difference.

The typical use is a parent-against-change check: run `Verify` on the
parent commit and on the change (optionally only the touched faces,
via Verify's third argument), then diff the two directories.
"""
import glob
import hashlib
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import canon  # noqa: E402


def faces(out_dir):
    """Face name -> its parquet files, for every face directory in `out_dir`."""
    found = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*", ""))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if files:
            found[os.path.basename(os.path.normpath(d))] = files
    return found


def scalarize(df):
    """Array, struct and map cells as their text, so rows can be sorted."""
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any():
            df[c] = df[c].map(
                lambda v: repr(v.tolist() if isinstance(v, np.ndarray) else v))
    return df


def digest(files):
    """(row count, SHA-256 of the canonical rows) of one face."""
    df = canon(scalarize(pd.concat([pd.read_parquet(f) for f in files],
                                   ignore_index=True)))
    h = hashlib.sha256()
    h.update(repr(list(zip(df.columns, df.dtypes.astype(str)))).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode())
        h.update(b"\n")
    return len(df), h.hexdigest()


def cell(d, i):
    """Field `i` of a digest for the table, `-` when the face is absent."""
    return "-" if d is None else str(d[i])[:12]


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    a, b = faces(a_dir), faces(b_dir)
    names = sorted(only or set(a) | set(b))
    if not names:
        sys.exit(f"no face directories to compare in {a_dir} and {b_dir}")
    width = max(len(n) for n in names)
    print(f"{'face':<{width}}  {'rows A':>9}  {'rows B':>9}  "
          f"{'sha256 A':<12}  {'sha256 B':<12}  result")
    differ = 0
    for name in names:
        da = digest(a[name]) if name in a else None
        db = digest(b[name]) if name in b else None
        if da is None and db is None:
            result = "in neither"
        elif da is None or db is None:
            result = "only in " + ("B" if da is None else "A")
        else:
            result = "identical" if da == db else "DIFFERENT"
        differ += result != "identical"
        print(f"{name:<{width}}  {cell(da, 0):>9}  {cell(db, 0):>9}  "
              f"{cell(da, 1):<12}  {cell(db, 1):<12}  {result}")
    print(f"{len(names) - differ}/{len(names)} faces identical")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
