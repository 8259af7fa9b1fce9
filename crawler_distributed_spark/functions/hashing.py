"""Portable (cross-engine) hashing helpers.

The engine's hot paths hash with ``xxhash64`` (JVM-side, fast, 64-bit).
That hash is not available in DuckDB, so any query surface that must be
verifiable by the driver's DuckDB oracle uses ``phash60`` instead: the
top 60 bits of md5, which both engines compute bit-identically:

  Spark : conv(substr(md5(x), 1, 15), 16, 10) :: long
  DuckDB: ('0x' || substr(md5(x), 1, 15)) :: BIGINT

60 bits (15 hex chars) keeps the value strictly below 2^60, so it fits
a signed 64-bit integer on both sides with no sign ambiguity. Collision
behavior is equivalent to any truncated cryptographic hash; for dedup
banding/signatures the quality is indistinguishable from xxhash64.

The engine keeps xxhash64 where the oracle never sees raw hash values
(seen-set partitioning, shuffle salts); phash60 is the *verification
surface* hash. Both are deterministic and parallelism-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def phash60(*cols: Column | str) -> Column:
    """60-bit md5-derived hash of the '|'-joined string forms of ``cols``.

    DuckDB twin: ``('0x' || substr(md5(concat_ws('|', ...)), 1, 15))::BIGINT``.
    """
    joined = F.concat_ws("|", *[F.col(c) if isinstance(c, str) else c for c in cols])
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")
