"""Hash / routing primitives.

Parity targets from the reference:

- ``Partitioner.kt:31-48`` — ``partition = CRC32(utf8(key)) fmod n`` where
  ``fmod(x, n) = ((x % n) + n) % n`` (always non-negative). Spark's ``pmod``
  is exactly ``fmod``; Spark's ``crc32`` is the same zlib CRC-32 the JVM
  ``java.util.zip.CRC32`` computes. Golden values (PartitionerTest.kt:11-19):
  ``'04a96f30-3dfa-11ec-9bbc-0242ac130002' -> 7`` and ``'my-string' -> 0``
  with n=10.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def crc32_pmod(key: Column, num_partitions: int) -> Column:
    """CRC32(utf8(key)) floor-mod n — the reference's partition router."""
    if num_partitions <= 0:
        raise ValueError(f"number of partitions must be positive, got {num_partitions}")
    return F.pmod(F.crc32(key.cast("string").cast("binary")), F.lit(num_partitions)).cast("int")
