"""Per-data-file key bloom filters for equality-delete file skipping.

Min/max key-range stats (``_op_applies``'s first pruning tier) skip an
anti-join only when a data file's key range is provably disjoint from
the delete's. With id-like keys written over time, EVERY file's range
overlaps every delete (ids interleave), so range pruning degenerates to
"no skip". This module adds the second tier Iceberg gets from parquet
bloom filters, lifted to the manifest so the DRIVER can plan with it:

* At write time (opt-in via the ``write.bloom.keys`` table property) each
  data file gets a tiny bloom filter (m=2048 bits / 256 bytes, k=4,
  Kirsch-Mitzenmacher double hashing off one md5) over its key tuples,
  computed by ONE column-pruned Spark pass over the freshly staged files
  and stored on the manifest entry.
* ``delete_by_keys`` stores the (h1, h2) hash pair of every delete key in
  the delete op when the key set is small (≤ ``PROBE_CAP``).
* ``_op_applies`` then probes each delete key against a candidate file's
  bloom: if NO key can be in the file, the anti-join is skipped.

Scale: the bloom adds 256 B + ~340 B base64 per file per commit — at a
million files that is ~300 MB of manifest, which the delta-encoded
manifest chain amortizes to O(changed files) per commit; a production
variant would push the bitmaps to per-file sidecars (Iceberg's puffin)
and keep only the pointer here. The write-side pass re-reads ONLY the
key columns of the files just written (column-pruned parquet scan), and
the per-file driver payload is a ≤2048-element position set, never rows.

Hash contract (must match between the Spark write pass and the driver
probe): key tuple → ``concat_ws('\\x1f', cast(col as string)...)`` →
md5 hex; h1 = hex[0:8], h2 = hex[8:16] | 1 (odd, so the k probe
positions never collapse); position_i = (h1 + i*h2) mod m. Rows with a
NULL in any key column are excluded on both sides — NULL keys never
match a plain-equality anti-join, so they cannot affect applicability.
The two agree only for integer and string key columns, so keys of any
other type are never probed (``probe_hashes_for_keys``): their files
carry a bloom that range-only pruning ignores.
"""

from __future__ import annotations

import base64
import hashlib
import os
import urllib.parse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_M = 2048  # bits per filter (256 bytes)
BLOOM_K = 4  # probe positions per key
PROBE_CAP = 4096  # max delete keys to store probe hashes for

_SEP = "\x1f"


def _hash_pair_cols(key_cols: list[str]):
    """(h1, h2) Spark columns from the md5 of the joined key tuple."""
    joined = F.concat_ws(
        _SEP, *[F.col(c).cast("string") for c in key_cols]
    )
    digest = F.md5(joined)
    h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("bigint")
    # force h2 odd — matches the driver-side (h2 | 1); h2 is non-negative
    # so  h2 - (h2 % 2) + 1  IS  h2 | 1
    return h1, (h2 - (h2 % 2) + 1)


def hash_pair_py(values: tuple) -> tuple[int, int]:
    """Driver-side twin of :func:`_hash_pair_cols` for one key tuple."""
    joined = _SEP.join(str(v) for v in values)
    hexd = hashlib.md5(joined.encode("utf-8")).hexdigest()
    return int(hexd[0:8], 16), int(hexd[8:16], 16) | 1


def _positions(h1: int, h2: int) -> list[int]:
    return [(h1 + i * h2) % BLOOM_M for i in range(BLOOM_K)]


def compute_file_blooms(
    df_session: SparkSession,
    staging_abs: str,
    key_cols: list[str],
) -> dict[str, str]:
    """staging-relative path → base64 bloom, via ONE Spark pass.

    Reads back only the key columns of the freshly written files,
    computes the k probe positions per row, and collects the DISTINCT
    position set per file (≤ m entries — bounded driver payload no
    matter the file's row count).
    """
    h1, h2 = _hash_pair_cols(key_cols)
    not_null = F.lit(True)
    for c in key_cols:
        not_null = not_null & F.col(c).isNotNull()
    pos = F.explode(
        F.array(
            *[((h1 + F.lit(i) * h2) % BLOOM_M).cast("int") for i in range(BLOOM_K)]
        )
    )
    rows = (
        df_session.read.parquet(staging_abs)
        .filter(not_null)
        .select(F.input_file_name().alias("f"), pos.alias("p"))
        .groupBy("f")
        .agg(F.collect_set("p").alias("ps"))
        .collect()
    )
    out: dict[str, str] = {}
    for r in rows:
        path = urllib.parse.unquote(urllib.parse.urlparse(r["f"]).path)
        rel = os.path.relpath(path, staging_abs)
        bits = bytearray(BLOOM_M // 8)
        for p in r["ps"]:
            bits[p >> 3] |= 1 << (p & 7)
        out[rel.replace(os.sep, "/")] = base64.b64encode(bytes(bits)).decode()
    return out


def _hash_agrees(t: pa.DataType) -> bool:
    """Does Python's ``str`` of this type's values equal Spark's
    CAST(x AS STRING)? Only for integers and strings: a boolean is
    'True' against 'true', a timestamp '...00.500000' against '...00.5'."""
    return pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)


def probe_hashes_for_keys(keys: pa.Table) -> list[list[int]] | None:
    """Delete-op probe payload: [h1, h2] per key tuple of ``keys`` (one
    column per key column) without a NULL, or None when there are more
    than PROBE_CAP or a key type's hash would not match the write pass's
    (fall back to range-only pruning)."""
    if not all(_hash_agrees(t) for t in keys.schema.types):
        return None
    keys = keys.drop_null()
    if keys.num_rows > PROBE_CAP:
        return None
    tuples = zip(*[keys[c].to_pylist() for c in keys.column_names])
    return [list(hash_pair_py(t)) for t in tuples]


def bloom_may_contain_any(bloom_b64: str, probe: list[list[int]]) -> bool:
    """True iff ANY probed key may be present (all k bits set for it)."""
    bits = base64.b64decode(bloom_b64)
    for h1, h2 in probe:
        if all(
            bits[p >> 3] & (1 << (p & 7)) for p in _positions(h1, h2)
        ):
            return True
    return False
