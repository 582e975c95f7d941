"""Per-segment Bloom sidecars: point-lookup pruning for UNCLUSTERED keys.

Min/max segment stats (store.py) prune ranges, but they are useless for
high-cardinality unordered keys — a UUID's [min, max] in every segment
spans the whole key space, so equality lookups and targeted DML degrade
to touching every file. A Bloom filter per (segment, column) answers
"might this exact value be in this file?" with **no false negatives**:
``False`` proves absence, so pruning on it can never change results.

Design, sized for 100 TB:

- **built distributed, stored small**: the segment's key column is hashed
  JVM-side (the house 60-bit md5 ``hash64`` — functions/scalar.py, the
  same convention every dedup operator uses), each partition sets bits
  into its own numpy bit-array inside ``mapInPandas`` (Arrow-batched,
  vectorized index math — Python never loops over rows), and the driver
  ORs the per-partition arrays. Only ``m/8``-byte arrays cross the wire,
  never data.
- **sidecar files, not manifest entries**: ``_bloom_<col>.bin`` +
  ``_bloom_<col>.json`` live INSIDE the immutable segment directory, so
  they travel with the segment through every commit that reuses it by
  reference, vacuum removes them with the directory, and the manifest
  stays lean (a 10M-row segment's bloom is ~12 MB — fine as a file,
  absurd as JSON). Spark and the Python data source both ignore
  ``_``-prefixed files, so sidecars are invisible to data reads.
- **version-stable hashing**: writer and reader must agree forever or a
  false negative (wrong skip) becomes silent data loss. Both sides pin
  md5 → first 15 hex digits → 60-bit int (Spark:
  ``conv(substr(md5(cast(x as string)),1,15),16,10)``; Python:
  ``int(md5(str(x)).hexdigest()[:15], 16)``) — no library-dependent hash
  functions. Parity is pytest-pinned.
- k index positions derive from one 60-bit hash via Kirsch-Mitzenmacher
  double hashing (h1 + i*h2 mod m), m a power of two in
  [2^17, 2^30] bits sized at ~10 bits/row (~1% false positives — a
  false positive only costs reading a segment that was going to be read
  without the bloom anyway).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

_MASK30 = (1 << 30) - 1
BLOOM_FORMAT = 1
K_HASHES = 4
BITS_PER_ROW = 10
MIN_BITS = 1 << 17  # 16 KiB floor
MAX_BITS = 1 << 30  # 128 MiB cap (keeps indexes inside the 30-bit halves)


def _bloom_size_bits(n_rows: int) -> int:
    m = MIN_BITS
    while m < n_rows * BITS_PER_ROW and m < MAX_BITS:
        m <<= 1
    return m


def py_hash64(value) -> int:
    """Python mirror of functions.scalar.hash64 (md5 mode) applied to
    Spark's ``cast(x AS STRING)`` canonical form. Only int/str values are
    canonicalized here — callers gate other types out."""
    s = value if isinstance(value, str) else str(value)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _bit_positions(h: np.ndarray, m: int) -> list[np.ndarray]:
    """k index arrays from the 60-bit hash array (Kirsch-Mitzenmacher)."""
    h1 = h & _MASK30
    h2 = (h >> np.uint64(30)) & _MASK30
    return [(h1 + np.uint64(i) * h2) % np.uint64(m) for i in range(K_HASHES)]


def _set_bits(arr: np.ndarray, idx: np.ndarray) -> None:
    np.bitwise_or.at(
        arr, (idx >> np.uint64(3)).astype(np.int64),
        (np.uint64(1) << (idx & np.uint64(7))).astype(np.uint8),
    )


#: Spark simpleString type → probe family. Only types whose Spark
#: ``cast(x AS STRING)`` form equals the Python ``str(value)`` form of a
#: same-family probe value participate — for anything else (double,
#: decimal, timestamp…) the two canonical strings differ ("5.0" vs "5")
#: and a bloom miss would be a FALSE negative, i.e. a silent wrong skip.
_FAMILY_BY_SPARK_TYPE = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "string": "str",
}


def probe_family(values):
    """"int" / "str" when every probe value is that one type, else None
    (bool is not int here — Spark casts booleans to "true"/"false")."""
    fam = None
    for v in values:
        if isinstance(v, bool):
            return None
        f = "int" if isinstance(v, int) else "str" if isinstance(v, str) else None
        if f is None or (fam is not None and f != fam):
            return None
        fam = f
    return fam


def build_segment_blooms(spark, seg_path: str, cols: list[str]) -> None:
    """Build and write one bloom sidecar per column for the parquet files
    under ``seg_path``. One distributed pass: hashes computed JVM-side,
    bits set per partition in numpy, arrays OR-merged on the driver.

    Only integral/string columns get a sidecar: those are the types whose
    writer canonical form (Spark ``cast AS STRING``) provably matches the
    reader probe form (Python ``str``). The sidecar records the family so
    the probe side can refuse a mismatched-type lookup instead of
    wrongly pruning."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from lakehouse_spark.functions.scalar import hash64

    files = [
        os.path.join(seg_path, n)
        for n in sorted(os.listdir(seg_path))
        if n.endswith(".parquet")
    ]
    if not files:
        return
    n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if n_rows == 0:
        return
    m = _bloom_size_bits(n_rows)
    df = spark.read.parquet(seg_path)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    family = {
        c: _FAMILY_BY_SPARK_TYPE[types[c]]
        for c in cols
        if c in types and types[c] in _FAMILY_BY_SPARK_TYPE
    }
    present = list(family)
    if not present:
        return
    # Null keys hash to a -1 sentinel (dropped below) INSTEAD of a SQL
    # null: a null would make pandas promote the int64 hash column to
    # float64, whose 53-bit mantissa silently corrupts 60-bit hashes —
    # and a corrupted written bit means a future probe can get a false
    # negative, i.e. a wrong skip.
    hashed = df.select(
        *[
            F.coalesce(hash64(f"cast(`{c}` as string)"), F.lit(-1)).alias(c)
            for c in present
        ]
    )

    def fold(batches):
        arrays = {c: np.zeros(m // 8, dtype=np.uint8) for c in present}
        for pdf in batches:
            for c in present:
                raw = pdf[c].to_numpy()
                h = raw[raw >= 0].astype(np.uint64)
                if h.size:
                    for idx in _bit_positions(h, m):
                        _set_bits(arrays[c], idx)
        import pandas as pd

        yield pd.DataFrame(
            {"col": present, "bloom": [arrays[c].tobytes() for c in present]}
        )

    parts = hashed.mapInPandas(fold, "col string, bloom binary").collect()
    merged = {c: np.zeros(m // 8, dtype=np.uint8) for c in present}
    for row in parts:
        merged[row["col"]] |= np.frombuffer(row["bloom"], dtype=np.uint8)
    for c in present:
        merged[c].tofile(os.path.join(seg_path, f"_bloom_{c}.bin"))
        with open(os.path.join(seg_path, f"_bloom_{c}.json"), "w") as f:
            json.dump(
                {
                    "format": BLOOM_FORMAT,
                    "m": m,
                    "k": K_HASHES,
                    "n": n_rows,
                    "vtype": family[c],
                },
                f,
            )


def load_bloom(seg_path: str, col: str, family: str | None = None):
    """(bits, m) or None when the segment has no usable bloom for ``col``.

    ``family`` is the probe-value family ("int"/"str", from
    :func:`probe_family`); a sidecar whose recorded ``vtype`` differs —
    or a legacy sidecar with no recorded type — cannot prove absence for
    that probe and reads as absent."""
    meta_path = os.path.join(seg_path, f"_bloom_{col}.json")
    bin_path = os.path.join(seg_path, f"_bloom_{col}.bin")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return None
    if meta.get("format") != BLOOM_FORMAT or meta.get("k") != K_HASHES:
        return None  # unknown future format: no pruning, never wrong
    if meta.get("vtype") != family:
        return None  # probe/written canonical forms may differ: no pruning
    bits = np.fromfile(bin_path, dtype=np.uint8)
    m = int(meta["m"])
    if bits.size != m // 8:
        return None  # truncated/corrupt sidecar: conservatively unusable
    return bits, m


def hash_values(values) -> np.ndarray:
    """Hash probe values once (callers reuse the array across segments).
    Only int/str values participate; anything else returns None meaning
    'cannot prove absence'."""
    out = []
    for v in values:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            return None
        out.append(py_hash64(v))
    return np.array(out, dtype=np.uint64)


def might_contain_any(bloom, hashes: np.ndarray) -> bool:
    """True unless the bloom PROVES none of the hashed values is present.
    Vectorized: k gathers over the bit array per probe batch."""
    bits, m = bloom
    alive = np.ones(len(hashes), dtype=bool)
    for idx in _bit_positions(hashes, m):
        byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
        alive &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
        if not alive.any():
            return False
    return bool(alive.any())
