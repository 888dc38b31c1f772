#!/usr/bin/env python3
"""Bytes a DedupStream store holds, per artifact and per batch slice.

    python3 tools/store_footprint.py <store-root>

Prints one JSON object: the store's total bytes and, for each artifact
directory (postings, shpost, vectors, ...), its total and the bytes of
each `batch=N` slice. Every regular file counts, parquet footers and
the writers' `_SUCCESS` and `.crc` files included, so the totals are
what the store occupies on disk. Standard library only.
"""

import json
import os
import sys


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def footprint(root):
    artifacts = {}
    for name in sorted(os.listdir(root)):
        adir = os.path.join(root, name)
        if not os.path.isdir(adir):
            continue
        slices = {}
        for s in os.listdir(adir):
            if s.startswith("batch=") and os.path.isdir(os.path.join(adir, s)):
                slices[s] = tree_bytes(os.path.join(adir, s))
        artifacts[name] = {
            "bytes": tree_bytes(adir),
            "slices": dict(sorted(slices.items(),
                                  key=lambda kv: int(kv[0].split("=", 1)[1]))),
        }
    return {"store": root, "bytes": tree_bytes(root), "artifacts": artifacts}


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        sys.stderr.write("usage: store_footprint.py <store-root>\n")
        return 2
    print(json.dumps(footprint(argv[1]), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
