#!/usr/bin/env python3
"""Compares two Verify output directories query by query.

Usage: python3 tools/compare_outputs.py <verify_out_a> <verify_out_b>

Two Verify runs of the same code do not write byte-identical parquet:
parquet-mr writes each column chunk's `encodings` list from a hash set, so
its order (a few footer bytes) varies between JVMs. This tool therefore
compares, per data file, the bytes before the footer plus the footer
metadata with every `encodings` list sorted. It also compares the two
`oracle_sql.json` files as parsed maps. Part files are matched by name with
the write job's UUID masked; hidden and `_`-prefixed files (`.crc`,
`_SUCCESS`) are skipped.

Prints one line per difference and a summary; exits 1 if anything differs
or a query exists on only one side, 0 otherwise.
"""
import json
import re
import struct
import sys
from pathlib import Path

import pyarrow.parquet as pq

UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def data_files(query_dir: Path) -> dict:
    """Data files of one query directory keyed by UUID-masked name."""
    return {UUID.sub("*", f.name): f for f in sorted(query_dir.iterdir())
            if f.is_file() and not f.name.startswith((".", "_"))}


def body_bytes(path: Path) -> bytes:
    """The file's bytes before the footer (footer = metadata, its 4-byte
    length and the trailing magic)."""
    raw = path.read_bytes()
    footer_len = struct.unpack("<I", raw[-8:-4])[0]
    return raw[:len(raw) - 8 - footer_len]


def footer_view(path: Path) -> dict:
    """Footer metadata with each column chunk's encodings sorted."""
    meta = pq.ParquetFile(path).metadata
    d = meta.to_dict()
    for rg in d["row_groups"]:
        for c in rg["columns"]:
            c["encodings"] = sorted(c["encodings"])
    # str() opens with the object's address; the column lines follow
    d["schema"] = str(meta.schema).splitlines()[1:]
    d["key_value_metadata"] = dict(meta.metadata or {})
    return d


def compare_file(a: Path, b: Path) -> list:
    diffs = []
    if body_bytes(a) != body_bytes(b):
        diffs.append("data bytes differ")
    va, vb = footer_view(a), footer_view(b)
    if va != vb:
        keys = sorted(k for k in set(va) | set(vb) if va.get(k) != vb.get(k))
        diffs.append("footer differs in " + ", ".join(keys))
    return diffs


def query_dirs(root: Path) -> dict:
    return {p.name: p for p in root.iterdir() if p.is_dir()}


def compare_outputs(a: Path, b: Path) -> list:
    """All differences between two Verify outputs, one string each."""
    diffs = []
    qa, qb = query_dirs(a), query_dirs(b)
    for name in sorted(set(qa) ^ set(qb)):
        side = a if name in qa else b
        diffs.append(f"{name}: only in {side}")
    for name in sorted(set(qa) & set(qb)):
        fa, fb = data_files(qa[name]), data_files(qb[name])
        if sorted(fa) != sorted(fb):
            diffs.append(f"{name}: file sets differ: {sorted(fa)} vs {sorted(fb)}")
            continue
        for f in sorted(fa):
            diffs += [f"{name}/{f}: {d}" for d in compare_file(fa[f], fb[f])]
    oa, ob = a / "oracle_sql.json", b / "oracle_sql.json"
    if oa.exists() != ob.exists():
        diffs.append("oracle_sql.json: present on one side only")
    elif oa.exists():
        ja, jb = json.loads(oa.read_text()), json.loads(ob.read_text())
        for k in sorted(set(ja) | set(jb)):
            if ja.get(k) != jb.get(k):
                diffs.append(f"oracle_sql.json[{k}]: differs"
                             if k in ja and k in jb
                             else f"oracle_sql.json[{k}]: on one side only")
    return diffs


def main(argv: list) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = Path(argv[1]), Path(argv[2])
    diffs = compare_outputs(a, b)
    for d in diffs:
        print(d)
    n = len(set(query_dirs(a)) | set(query_dirs(b)))
    print(f"{n} queries, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
