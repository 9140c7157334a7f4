"""Deterministic hashing / identity primitives.

Content identity is SHA-256 of raw bytes, exactly like the reference
(`surfactant/fileinfo.py:47-78`); canonical UUIDs are **uuid5 of the
content hash** rather than the reference's random uuid4
(`surfactant/sbomtypes/_software.py:44`) — a deliberate divergence so
resume/retry is idempotent; the reference itself merges on hash
identity, not UUID (`_sbom.py:280-319`), so triple P/R is unaffected.

``portable_hash64`` is the engine's SQL-portable 60-bit hash: the same
value is computable in Spark SQL (``conv(substr(md5(x),1,15),16,10)``)
and DuckDB (``('0x' || substr(md5(x),1,15))::bigint``), which keeps
MinHash/LSH oracle-checkable.
"""

from __future__ import annotations

import hashlib
import uuid
from typing import Iterable, List, Sequence

SURFACTANT_SPARK_NS = uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")  # uuid.NAMESPACE_URL

_MERSENNE61 = (1 << 61) - 1


def sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def canon_uuid(sha256: str) -> str:
    """Deterministic canonical node UUID from a content hash."""
    return str(uuid.uuid5(SURFACTANT_SPARK_NS, "sha256:" + sha256))


def entity_uuid(canon_name: str) -> str:
    """Deterministic UUID for an abstract (non-content) entity."""
    return str(uuid.uuid5(SURFACTANT_SPARK_NS, "entity:" + canon_name))


def portable_hash64(s: str) -> int:
    """60-bit hash from the md5 hex prefix; identical in Spark SQL and
    DuckDB SQL (see module docstring). Always non-negative (< 2**60)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# --- MinHash ---------------------------------------------------------------
# One md5-derived base hash per shingle, then k affine permutations
# h_i(x) = (a_i * x + b_i) mod P31 over the 31-bit base hash. All
# operands stay < 2^31 so products fit in a signed 64-bit long with no
# overflow — the *identical* signature is computable in Spark SQL,
# DuckDB SQL and Python (exact integer arithmetic), keeping the whole
# MinHash/LSH dedup pipeline oracle-checkable while doing 1 md5 per
# shingle instead of k.

P31 = 2147483647  # 2^31 - 1 (prime)


def mh_params(k: int) -> List[tuple]:
    """Deterministic (a_i, b_i) affine coefficients, derived from the
    portable hash so every engine inlines the same literals."""
    return [
        (portable_hash64(f"mh-a:{i}") % (P31 - 1) + 1, portable_hash64(f"mh-b:{i}") % P31)
        for i in range(k)
    ]


def shingle_base_hash(s: str) -> int:
    return portable_hash64(s) % P31


def shingles(text: str, n: int = 3) -> List[str]:
    """Word n-gram shingles over whitespace tokens (lowercased).

    An empty/whitespace-only text yields the single empty-string shingle
    [""] — matching the Spark (`split(trim(...))` -> [""]) and DuckDB
    (`string_split_regex`) sides exactly, so the tri-engine signature
    parity holds for empty docs too."""
    toks = text.lower().split()
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def minhash_signature(text: str, k: int = 16, n: int = 3) -> List[int]:
    sh = set(shingles(text, n))
    if not sh:
        return [P31] * k
    hv = [shingle_base_hash(s) for s in sh]
    return [min((a * h + b) % P31 for h in hv) for (a, b) in mh_params(k)]


def minhash_bands(sig: Sequence[int], bands: int = 4) -> List[int]:
    """LSH band keys: hash of each signature band (rows = k/bands)."""
    rows = len(sig) // bands
    return [
        portable_hash64(f"band{i}:" + ",".join(str(v) for v in sig[i * rows : (i + 1) * rows]))
        for i in range(bands)
    ]


def simhash64(tokens: Iterable[str]) -> int:
    """64-bit SimHash over token fingerprints."""
    acc = [0] * 64
    for t in tokens:
        h = portable_hash64(t)
        for bit in range(60):
            acc[bit] += 1 if (h >> bit) & 1 else -1
        h2 = portable_hash64(t + "|hi")
        for bit in range(4):
            acc[60 + bit] += 1 if (h2 >> bit) & 1 else -1
    v = 0
    for bit in range(64):
        if acc[bit] > 0:
            v |= 1 << bit
    return v


def rolling_fingerprint(text: str, window: int = 16) -> int:
    """Rabin-Karp style document fingerprint: min rolling hash over byte
    windows (winnowing-lite); deterministic across engines."""
    data = text.encode("utf-8")
    if len(data) <= window:
        return portable_hash64(text)
    base, mod = 257, _MERSENNE61
    h = 0
    power = pow(base, window - 1, mod)
    best = mod
    for i, byte in enumerate(data):
        if i >= window:
            h = (h - data[i - window] * power) % mod
        h = (h * base + byte) % mod
        if i >= window - 1 and h < best:
            best = h
    return best
