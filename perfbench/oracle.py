"""Sequential-replay oracle for the sync workloads.

The table state is replayed in plain Python, one event at a time in
``op_seq`` order: the trivially correct implementation the distributed
merge-on-read path must match. A state is compared with the table by a
digest that both sides compute the same way: the live row count and the
sum of CRC-32 over ``doc_id || 0x01 || full_doc`` (Spark's ``crc32`` and
``zlib.crc32`` are the same checksum), so a full-table check costs one
aggregate job and no collect.
"""

from __future__ import annotations

import zlib

SEP = "\x01"


def row_crc(doc_id: str, full_doc: str) -> int:
    return zlib.crc32(f"{doc_id}{SEP}{full_doc}".encode())


class Replay:
    """Live documents by key, with the digest kept up to date."""

    def __init__(self, source_rows: list[tuple[str, str]]):
        self.state = dict(source_rows)
        self.crc_sum = sum(row_crc(k, v) for k, v in self.state.items())

    def apply(self, rows: list[tuple]) -> None:
        """Apply one batch of (op_seq, op_type, doc_id, full_doc) rows,
        which the generator emits in ascending op_seq order."""
        for _seq, op, key, doc in rows:
            old = self.state.pop(key, None)
            if old is not None:
                self.crc_sum -= row_crc(key, old)
            if op != "delete":
                self.state[key] = doc
                self.crc_sum += row_crc(key, doc)

    def digest(self) -> tuple[int, int]:
        return len(self.state), self.crc_sum


def table_digest(df) -> tuple[int, int]:
    """(row count, CRC sum) of a snapshot DataFrame, in one Spark job."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat("doc_id", F.lit(SEP), "full_doc"))).alias("crc"),
    ).head()
    return int(row.n), int(row.crc or 0)
