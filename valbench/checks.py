"""Output checks shared by the timed and the traced iterations."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F


def content_hash(df: DataFrame, group: str | None = None) -> dict:
    """Order-free content hash: the sum of xxhash64 over each row's
    canonical string, plus the row count (bench.py's ``_hash_df`` idea).
    With ``group``, one hash per value of that column."""
    cols = sorted(c for c in df.columns if c != group)
    row = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols])
    aggs = [
        F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ]
    if group is None:
        r = df.agg(*aggs).collect()[0]
        return {"": f"{r['h']}:{r['n']}"}
    return {str(r[group]): f"{r['h']}:{r['n']}" for r in df.groupBy(group).agg(*aggs).collect()}


class HashBook:
    """Reference content hashes per key. The first value seen for a key is
    kept, in memory and in ``path``, so a later iteration or a later run
    of the same seed must reproduce it."""

    def __init__(self, path: str):
        self.path = path
        self.ref: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.ref = json.load(f)

    def check(self, key: str, value: str) -> list[str]:
        if key not in self.ref:
            self.ref[key] = value
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.ref, f)
            os.replace(tmp, self.path)
            return []
        if self.ref[key] != value:
            return [f"{key}: hash {value} != reference {self.ref[key]}"]
        return []


def compare_counts(got: dict[tuple[str, str], int], want: dict[tuple[str, str], int],
                   label: str) -> list[str]:
    """Problems where (check, part) violation counts differ."""
    out = []
    for k in sorted(set(got) | set(want)):
        if got.get(k, 0) != want.get(k, 0):
            out.append(f"{label} {k[0]}/{k[1]}: {got.get(k, 0)} rows, expected {want.get(k, 0)}")
    return out
