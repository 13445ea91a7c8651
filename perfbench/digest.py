"""Order-independent digest of a committed triple set, and the values
recorded per (workload, seed) that each extract is checked against."""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def triple_digest(rows) -> tuple[int, str]:
    """(count, sha256 of the sorted "subj\\tpred\\tobj" lines). Duplicates
    count, so two multisets that differ in one row differ in the digest."""
    lines = sorted(f"{s}\t{p}\t{o}" for s, p, o in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def load_expected(path: str = EXPECTED_PATH) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def expected_for(workload: str, seed: int, path: str = EXPECTED_PATH):
    """Recorded [count, digest] or None when this seed was never recorded."""
    return load_expected(path).get(workload, {}).get(str(seed))


def record(workload: str, seed: int, digest: tuple[int, str],
           path: str = EXPECTED_PATH) -> None:
    data = load_expected(path)
    data.setdefault(workload, {})[str(seed)] = list(digest)
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
