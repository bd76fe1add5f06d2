#!/usr/bin/env python3
"""Compare the Icelite manifests of two table roots, snapshot by snapshot.

    python3 scripts/manifest_diff.py <root_a> <root_b>

A root is one Icelite table (a directory holding `meta/`) or any directory
tree of them; tables pair up by their path relative to the root. For every
snapshot id present on either side it compares:

  - the manifest fields rowCount, inputFingerprint, nBuckets, bucketSpec
    and the schema;
  - the file entries of all its segments, as a multiset keyed by
    (mod, res, rows, checksum, stats);
  - the segment refs, as a multiset keyed by (rows, stats).

Snapshot uuids, data file paths (part-file names carry a write-job uuid)
and segment names (content hashes of entries that include those paths) are
ignored. Prints one line per snapshot and exits 1 on any difference.
"""
import base64
import collections
import json
import os
import sys


def b64(s):
    return base64.b64decode(s).decode("utf-8")


def stats(node):
    """A stats64 object as a sorted tuple of (column, lo, hi)."""
    return tuple(sorted((b64(c), b64(lo), b64(hi))
                        for c, (lo, hi) in (node or {}).items()))


def tables(root):
    """Relative path -> absolute path of every table dir under `root`."""
    found = {}
    for d, subdirs, _ in os.walk(root):
        if os.path.isdir(os.path.join(d, "meta")):
            found[os.path.relpath(d, root)] = d
            subdirs[:] = [s for s in subdirs if s not in ("meta", "data")]
    return found


def snapshots(table):
    """Snapshot id -> (header fields, entry multiset, segment-ref multiset)."""
    meta = os.path.join(table, "meta")
    out = {}
    for name in os.listdir(meta):
        if not (name.startswith("snapshot-") and name.endswith(".json")):
            continue
        with open(os.path.join(meta, name)) as f:
            m = json.load(f)
        entries = collections.Counter()
        refs = collections.Counter()
        for r in m["segments"]:
            refs[(r["rows"], stats(r.get("stats64")))] += 1
            with open(os.path.join(meta, r["name"])) as f:
                for e in json.load(f):
                    entries[(e["mod"], e["res"], e["rows"], e["checksum"],
                             stats(e.get("stats64")))] += 1
        header = {k: m[k] for k in
                  ("rowCount", "inputFingerprint", "nBuckets", "bucketSpec")}
        header["schema"] = b64(m["schemaJson"])
        out[m["id"]] = (header, entries, refs)
    return out


def diff_counters(what, a, b):
    lines = []
    for k in sorted(set(a) | set(b), key=repr):
        if a[k] != b[k]:
            lines.append(f"    {what} {k}: {a[k]} vs {b[k]}")
    return lines


def main(root_a, root_b):
    ta, tb = tables(root_a), tables(root_b)
    bad = 0
    for rel in sorted(set(ta) | set(tb)):
        if rel not in ta or rel not in tb:
            print(f"{rel}: only in {'a' if rel in ta else 'b'}")
            bad += 1
            continue
        sa, sb = snapshots(ta[rel]), snapshots(tb[rel])
        for sid in sorted(set(sa) | set(sb)):
            if sid not in sa or sid not in sb:
                print(f"{rel} snapshot {sid}: only in {'a' if sid in sa else 'b'}")
                bad += 1
                continue
            (ha, ea, ra), (hb, eb, rb) = sa[sid], sb[sid]
            lines = [f"    {k}: {ha[k]!r} vs {hb[k]!r}" for k in ha if ha[k] != hb[k]]
            lines += diff_counters("entry", ea, eb) + diff_counters("segment", ra, rb)
            n = sum(ea.values())
            if lines:
                bad += 1
                print(f"{rel} snapshot {sid}: DIFFERS ({n} vs {sum(eb.values())} entries)")
                print("\n".join(lines))
            else:
                print(f"{rel} snapshot {sid}: same ({n} entries, {ha['rowCount']} rows)")
    if not ta and not tb:
        print("no Icelite tables found")
        return 1
    print(f"{bad} difference(s)" if bad else "all snapshots match")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
