#!/usr/bin/env python3
"""Compare two graft index directories table by table, exactly.

Usage: python3 scripts/diff_index.py OLD NEW

Compared, for every seg-NNNNNN dir present in either index (published or
not): postings (one table per termBucket= dir), docs, stats, supersedes,
manifest (without durationMs) and docsmap (without the part-file names,
which carry a per-write UUID); then the global tombstones dir and the live
segment list named by the newest current-*.txt pointer. Rows are sorted by
the table's key before comparing, since part-file layout may differ;
floating-point values are compared as their exact IEEE-754 bits (see
diff_verify.py). A table present in only one index is a difference too.

Prints one line per table (SAME / DIFF / ONLY) and a summary; exits 1 if
any table differs.
"""
import glob
import os
import re
import sys

import pyarrow.parquet as pq

from diff_verify import bits, show

SEG_TABLES = ["postings", "docs", "stats", "supersedes", "manifest", "docsmap"]
KEYS = {
    "postings": ("term", "segment"),
    "docs": ("docId",),
    "supersedes": ("docId",),
    "tombstones": ("docId",),
    "manifest": ("partitionId",),
    "docsmap": ("urlMin", "urlMax"),
}
DROP = {"manifest": {"durationMs"}, "docsmap": {"file"}}


def rows_of(path, kind):
    """Rows of one table dir (hidden and _-prefixed files skipped), sorted
    by the table's key, with the ignored columns removed."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*"))):
        name = os.path.basename(f)
        if name.startswith((".", "_")) or os.path.isdir(f):
            continue
        rows.extend(pq.read_table(f).to_pylist())
    drop = DROP.get(kind, set())
    rows = [{k: v for k, v in r.items() if k not in drop} for r in rows]
    key = KEYS.get(kind)
    return sorted(rows, key=lambda r: (tuple(r[k] for k in key) if key
                                       else repr(bits(r))))


def tables(root):
    """(label, dir, kind) for every comparable table under an index dir."""
    out = []
    for seg in sorted(glob.glob(os.path.join(root, "seg-*"))):
        s = os.path.basename(seg)
        for kind in SEG_TABLES:
            d = os.path.join(seg, kind)
            if not os.path.isdir(d):
                continue
            parts = sorted(p for p in glob.glob(os.path.join(d, "*=*"))
                           if os.path.isdir(p))
            if parts:
                out += [(f"{s}/{kind}/{os.path.basename(p)}", p, kind)
                        for p in parts]
            else:
                out.append((f"{s}/{kind}", d, kind))
    tomb = os.path.join(root, "tombstones")
    if os.path.isdir(tomb):
        out.append(("tombstones", tomb, "tombstones"))
    return out


def live_segments(root):
    ptrs = [p for p in glob.glob(os.path.join(root, "current-*.txt"))
            if re.fullmatch(r"current-\d{6}\.txt", os.path.basename(p))]
    if not ptrs:
        return None
    with open(max(ptrs)) as f:
        return [l.strip() for l in f if l.strip()]


def compare(old_rows, new_rows):
    """None when identical, else a one-line reason."""
    if len(old_rows) != len(new_rows):
        return f"rows {len(new_rows)} != {len(old_rows)}"
    for i, (a, b) in enumerate(zip(old_rows, new_rows)):
        if bits(a) != bits(b):
            return f"row {i}: {show(b)} != {show(a)}"
    return None


def main(old, new):
    old_t = {label: (d, kind) for label, d, kind in tables(old)}
    new_t = {label: (d, kind) for label, d, kind in tables(new)}
    labels = sorted(set(old_t) | set(new_t))
    diffs = 0
    for label in labels:
        if label not in old_t or label not in new_t:
            print(f"ONLY {label}: in {old if label in old_t else new} only")
            diffs += 1
            continue
        (od, kind), (nd, _) = old_t[label], new_t[label]
        reason = compare(rows_of(od, kind), rows_of(nd, kind))
        if reason is None:
            print(f"SAME {label}")
        else:
            print(f"DIFF {label}: {reason}")
            diffs += 1
    lo, ln = live_segments(old), live_segments(new)
    if lo == ln:
        print(f"SAME current: {lo}")
    else:
        print(f"DIFF current: {ln} != {lo}")
        diffs += 1
    total = len(labels) + 1
    print(f"{total - diffs}/{total} identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
