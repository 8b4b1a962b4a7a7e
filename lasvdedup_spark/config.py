"""Config layer: defaults < YAML file < explicit overrides.

Mirrors the precedence semantics of the reference's ``build_config``
(/root/reference/lasvdedup/utils/config_setup.py:102-204: CLI > custom YAML >
packaged default, with type validation and nested merge) without copying its
structure — ours is a flat dataclass because the engine is a library, not a
Snakemake wrapper.

The config *fingerprint* (stable hash of every semantics-affecting field)
keys the stage-checkpoint directory, giving Snakemake-style "skip finished
stages" resume (/root/reference/lasvdedup/pipeline.py:70-78).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import random
from dataclasses import dataclass, field
from typing import Optional

# Modulus for the universal hash family used by MinHash permutations.
# Mersenne prime 2^31-1: with 28-bit shingle hashes and a < 2^31 the product
# a*h + b stays < 2^60, safely inside int64 for BOTH Spark and DuckDB
# (DuckDB raises on bigint overflow; Spark would silently wrap).
MINHASH_PRIME = 2_147_483_647


def make_permutations(num_perms: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash universal-hash family.

    Seeded so the same config always yields the same signatures — required
    both for resume correctness and for the DuckDB oracle, which embeds the
    same literals into its SQL.
    """
    rng = random.Random(seed)
    perms = []
    for _ in range(num_perms):
        a = rng.randrange(1, MINHASH_PRIME)
        b = rng.randrange(0, MINHASH_PRIME)
        perms.append((a, b))
    return perms


def _cast_config_value(name: str, val, ftype):
    """Cast one YAML/CLI value to its dataclass field type, loudly.

    Mirrors the reference's per-parameter validate_and_cast
    (/root/reference/lasvdedup/utils/config_setup.py:55-100): tolerant of
    the representations YAML/CLI legitimately produce (numeric strings,
    "true"/"false", integral floats), strict about everything else, and
    every error names the key."""
    import typing

    origin = typing.get_origin(ftype)
    if origin is typing.Union:  # Optional[X]
        args = [a for a in typing.get_args(ftype) if a is not type(None)]
        if val is None:
            return None
        return _cast_config_value(name, val, args[0])

    def bad() -> ValueError:
        return ValueError(
            f"config key {name!r}: cannot cast {val!r} "
            f"({type(val).__name__}) to {getattr(ftype, '__name__', ftype)}"
        )

    if ftype is bool:  # before int: bool is a subclass of int
        if isinstance(val, bool):
            return val
        if isinstance(val, str) and val.lower() in ("true", "false"):
            return val.lower() == "true"
        raise bad()
    if ftype is int:
        if isinstance(val, bool):
            raise bad()
        if isinstance(val, int):
            return val
        if isinstance(val, float) and val.is_integer():
            return int(val)
        if isinstance(val, str):
            try:
                return int(val)
            except ValueError:
                raise bad() from None
        raise bad()
    if ftype is float:
        if isinstance(val, bool):
            raise bad()
        if isinstance(val, (int, float)):
            return float(val)
        if isinstance(val, str):
            try:
                return float(val)
            except ValueError:
                raise bad() from None
        raise bad()
    if ftype is str:
        if isinstance(val, str):
            return val
        raise bad()
    if ftype is dict:
        if isinstance(val, dict):
            return val
        raise bad()
    raise bad()


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the dedup pipeline.

    Threshold semantics follow the reference: the duplicate predicate is
    *inclusive* (distance <= PWD at sequence_grouping.py:51-53, boundary
    behavior tested at tests/utils/test_sequence_grouping.py:103-105).
    Similarity = 1 - distance, so ours is jaccard >= threshold, inclusive.
    """

    # --- shingling / MinHash ---
    # Banding shape matters for the recall>=0.99 gate: the duplicate edge is
    # "signature agreement >= jaccard_threshold", and with b bands of r rows
    # a pair agreeing on fraction s of positions is a candidate with
    # p ~= 1-(1-s^r)^b. At s=0.5: b=16,r=4 -> 0.65 (fails the gate);
    # b=32,r=2 -> 0.9996. r=2 costs more candidate pairs at low similarity,
    # which the cheap signature-agreement verify filters out.
    shingle_k: int = 4            # words per shingle
    num_perms: int = 64           # MinHash signature length
    lsh_bands: int = 32           # bands (b) — b*r must equal num_perms
    lsh_rows: int = 2             # rows per band (r)
    perm_seed: int = 42

    # --- thresholds (similarity space; inclusive >=) ---
    jaccard_threshold: float = 0.5     # duplicate edge: exact-on-signature jaccard
    strong_threshold: float = 0.8      # "all pairs this similar" => BelowThreshold case
    simhash_hamming: int = 3           # near-identical tier (60-bit simhash)
    substring_min_tokens: int = 16     # long-shared-span tier (token L-gram)
    containment_threshold: float = 0.8  # containment tier: max(c_a, c_b) >=

    # --- embedding tier (cosine near-dup over an embeddings DataFrame) ---
    embedding_threshold: float = 0.9   # duplicate edge: cosine >= (inclusive)
    ann_tables: int = 4                # hyperplane-LSH banding tables
    ann_planes: int = 8                # planes per table (buckets = 2^planes)

    # --- per-language threshold overrides ---
    # Web analog of the reference's segment-specific THRESHOLDS nesting
    # (config_setup.py:154-184: per-segment PWD replaces the global one):
    # {lang: jaccard_threshold}. An edge must clear the threshold of BOTH
    # endpoints' languages; unlisted languages use jaccard_threshold.
    lang_thresholds: Optional[dict] = None

    # --- classification cascade (reference analogs) ---
    clade_size: int = 8                # config.yaml:34 CLADE_SIZE
    z_threshold: float = 2.0           # config.yaml Z_THRESHOLD (outlier z)
    target_length: int = 300           # TARGET_LENGTH analog (chars of text)
    # Reference-faithful: outliers are BAD (sequence_grouping.py:316-325).
    # True = web-dedup mode: outliers detach as their own kept documents.
    detach_outliers: bool = False

    # --- scale / skew controls ---
    max_bucket_size: Optional[int] = None  # cap LSH bucket fan-out; None = exact
    salt_buckets: int = 8                  # salt fan-out for hot keys (>= 1)
    skew_bucket_cutoff: int = 1024         # buckets larger than this take the salted path
    shuffle_partitions: int = 32

    # --- hashing family ---
    # Production default is xxhash64: a native Spark expression that scales
    # with executor threads. The md5 family exists for DuckDB-oracle
    # portability ONLY — JDK MessageDigest serializes on the JCA provider
    # lock, so md5 map stages do not scale inside one JVM (measured flat
    # ~20s at 8 AND 32 cores; see BENCH.md). Oracle-parity queries pin
    # hash_family="md5" themselves (entry_queries.CFG).
    hash_family: str = "xxhash64"  # "xxhash64" (prod) | "md5" (oracle-portable)

    # --- checkpointing ---
    checkpoint_dir: Optional[str] = None   # None = no stage checkpoints

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perms:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perms ({self.num_perms})"
            )
        if self.hash_family not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hash_family: {self.hash_family}")

    # -- derived --
    @property
    def permutations(self) -> list[tuple[int, int]]:
        return make_permutations(self.num_perms, self.perm_seed)

    def fingerprint(self) -> str:
        """Stable hash over semantics-affecting fields (checkpoint key)."""
        d = dataclasses.asdict(self)
        d.pop("checkpoint_dir", None)        # where to checkpoint ≠ what to compute
        d.pop("shuffle_partitions", None)    # physical, not semantic
        d.pop("salt_buckets", None)          # physical: pair set is identical
        d.pop("skew_bucket_cutoff", None)    # physical: pair set is identical
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.md5(blob).hexdigest()[:12]

    def with_overrides(self, **kw) -> "DedupConfig":
        return dataclasses.replace(self, **kw)

    @classmethod
    def from_yaml(cls, path: str, **overrides) -> "DedupConfig":
        """YAML < explicit kwargs, matching reference precedence
        (config_setup.py:117-201). Unknown keys fail fast AND every value
        is cast/validated against its field type, like the reference's
        validate_and_cast (config_setup.py:55-100): a YAML
        ``jaccard_threshold: "0.5"`` becomes float 0.5; an uncastable
        value raises naming the key — never a string smuggled into the
        frozen dataclass to fail later (or not at all)."""
        import yaml  # stdlib-adjacent; present wherever pyspark is

        with open(path) as f:
            raw = yaml.safe_load(f) or {}
        raw.update(overrides)
        known = {f.name for f in dataclasses.fields(cls)}
        unknown = set(raw) - known
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        import typing

        hints = typing.get_type_hints(cls)
        casted = {
            k: _cast_config_value(k, v, hints[k]) for k, v in raw.items()
        }
        return cls(**casted)
