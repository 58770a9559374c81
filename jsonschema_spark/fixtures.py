"""Deterministic image+caption fixture generator (FIXTURES.md §1–§3).

Everything derives from row index ``i`` and seed 42 via integer mixing —
no RNG state — so generation is embarrassingly parallel: the Spark path
builds the table with ``spark.range(n)`` + ``mapInPandas`` (Arrow batches,
encode distributed across all cores), and the fidelity pass can re-derive
any row's expected pixels from its index alone.

Planted violations (exact counts ⇒ golden assertions) follow FIXTURES.md §1.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np

from .functions import imagecodecs as codecs

SEED = 42
_VOCAB = [
    "amber", "basalt", "cobalt", "dune", "ember", "fjord", "glacier", "harbor",
    "isle", "juniper", "krill", "lagoon", "meadow", "nimbus", "onyx", "prairie",
    "quartz", "reef", "summit", "tundra", "umber", "vale", "willow", "xenon",
    "yarrow", "zephyr", "aurora", "breeze", "cinder", "delta", "echo", "flint",
]
FMTS = ["png", "bmp", "raw", "jpeg"]          # skew 70/20/9/1 (FIXTURES.md §1)
_FMT_CUM = [70, 90, 99, 100]


def _mix(*parts: int) -> int:
    """64-bit splitmix-style integer mixer (deterministic, seedable)."""
    x = (SEED * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    for p in parts:
        x = (x ^ (p & 0xFFFFFFFFFFFFFFFF)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
    return x


def pixels_for(i: int, w: int, h: int) -> np.ndarray:
    """pixel = mix(i, x, y) & 0xFF per channel (FIXTURES.md §1), vectorized."""
    base = np.uint64(_mix(i))
    ys = np.arange(h, dtype=np.uint64)[:, None, None]
    xs = np.arange(w, dtype=np.uint64)[None, :, None]
    cs = np.arange(3, dtype=np.uint64)[None, None, :]
    with np.errstate(over="ignore"):
        v = (base + ys * np.uint64(65537) + xs * np.uint64(40503) + cs * np.uint64(97))
        v = v * np.uint64(0xBF58476D1CE4E5B9)
        v ^= v >> np.uint64(31)
        v = v * np.uint64(0x94D049BB133111EB)
        v ^= v >> np.uint64(29)
    return (v & np.uint64(0xFF)).astype(np.uint8)


def phash64(px: np.ndarray) -> int:
    """Average-hash stand-in: 8×8 grid sample of gray, threshold at mean,
    packed into a signed int64 (SURVEY.md B27 — same code as the UDF)."""
    gray = px.mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    grid = gray[np.ix_(ys, xs)]
    bits = (grid > grid.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return int(np.int64(np.uint64(val)))


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """Vectorized phash64 over a (n, h, w, 3) stack of SAME-SHAPE images —
    bit-identical to phash64 per image, one numpy pass per batch group."""
    gray = stack.mean(axis=3)                       # (n, h, w)
    n, h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    grid = gray[:, ys][:, :, xs].reshape(n, 64)      # (n, 64), C order = phash64's flatten
    bits = grid > grid.mean(axis=1, keepdims=True)
    shifts = np.uint64(63) - np.arange(64, dtype=np.uint64)
    vals = (bits.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return vals.view(np.int64)


def caption_for(i: int, doubled: bool = False) -> str:
    n_words = 3 + _mix(i, 1) % 38              # 3–40 words (FIXTURES.md §1)
    if doubled:
        n_words *= 2
    return " ".join(_VOCAB[_mix(i, 2, j) % len(_VOCAB)] for j in range(n_words))


def dims_for(i: int, drifted: bool = False) -> tuple[int, int]:
    w = 16 + (i * 7) % 49
    h = 16 + (i * 11) % 49
    if drifted:
        w += 32                                 # FIXTURES.md §1 drift plant
    return w, h


def fmt_for(i: int) -> str:
    r = _mix(i, 3) % 100
    for fmt, cum in zip(FMTS, _FMT_CUM):
        if r < cum:
            return fmt
    return "png"


@dataclass(frozen=True)
class FixtureConfig:
    n: int = 10_000
    n_parts: int = 16
    plants: bool = True
    with_bytes: bool = True
    drift_part: int = 7
    # plant rates (FIXTURES.md §1 counts at n=10_000)
    rate_dup_id: float = 50 / 10_000
    rate_dup_phash: float = 50 / 10_000
    rate_orphan_fmt: float = 25 / 10_000
    rate_orphan_license: float = 25 / 10_000
    rate_w_zero: float = 25 / 10_000
    rate_h_big: float = 25 / 10_000
    rate_null_caption: float = 25 / 10_000
    rate_bad_id: float = 25 / 10_000


@dataclass
class PlantPlan:
    """Driver-computed plant assignments, broadcast into the generator."""
    dup_id: dict[int, int] = field(default_factory=dict)      # i -> source j
    dup_phash: dict[int, int] = field(default_factory=dict)
    orphan_fmt: frozenset[int] = frozenset()
    orphan_license: frozenset[int] = frozenset()
    w_zero: frozenset[int] = frozenset()
    h_big: frozenset[int] = frozenset()
    null_caption: frozenset[int] = frozenset()
    bad_id: frozenset[int] = frozenset()


def build_plan(cfg: FixtureConfig) -> PlantPlan:
    if not cfg.plants:
        return PlantPlan()
    rng = np.random.default_rng(SEED)
    n = cfg.n
    need = (
        int(round(n * cfg.rate_dup_id)) * 2
        + int(round(n * cfg.rate_dup_phash)) * 2
        + int(round(n * (cfg.rate_orphan_fmt + cfg.rate_orphan_license + cfg.rate_w_zero
                         + cfg.rate_h_big + cfg.rate_null_caption + cfg.rate_bad_id)))
    )
    pool = list(rng.choice(n, size=min(need, n), replace=False))

    def take(k: int) -> list[int]:
        out = [pool.pop() for _ in range(min(k, len(pool)))]
        return [int(x) for x in out]

    k_dup = int(round(n * cfg.rate_dup_id))
    dup_pairs = list(zip(take(k_dup), take(k_dup)))
    k_ph = int(round(n * cfg.rate_dup_phash))
    ph_pairs = list(zip(take(k_ph), take(k_ph)))
    return PlantPlan(
        dup_id={a: b for a, b in dup_pairs},
        dup_phash={a: b for a, b in ph_pairs},
        orphan_fmt=frozenset(take(int(round(n * cfg.rate_orphan_fmt)))),
        orphan_license=frozenset(take(int(round(n * cfg.rate_orphan_license)))),
        w_zero=frozenset(take(int(round(n * cfg.rate_w_zero)))),
        h_big=frozenset(take(int(round(n * cfg.rate_h_big)))),
        null_caption=frozenset(take(int(round(n * cfg.rate_null_caption)))),
        bad_id=frozenset(take(int(round(n * cfg.rate_bad_id)))),
    )


def make_row(i: int, cfg: FixtureConfig, plan: PlantPlan) -> dict:
    """The single source of truth for row i — used by generator AND fidelity."""
    part_id = i % cfg.n_parts
    drifted = part_id == cfg.drift_part
    w, h = dims_for(i, drifted)
    fmt = fmt_for(i)
    px = pixels_for(i, w, h)
    row = {
        "image_id": f"img-{i:012d}",
        "bytes": codecs.encode(px, fmt) if cfg.with_bytes else b"",
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(i, doubled=drifted),
        "phash": phash64(px),
        "part_id": part_id,
    }
    # --- plants (FIXTURES.md §1) ---
    if i in plan.dup_id:
        row["image_id"] = f"img-{plan.dup_id[i]:012d}"
    if i in plan.dup_phash:
        j = plan.dup_phash[i]
        jw, jh = dims_for(j, (j % cfg.n_parts) == cfg.drift_part)
        row["phash"] = phash64(pixels_for(j, jw, jh))
    if i in plan.orphan_fmt:
        row["fmt"] = "webp"
    if i in plan.w_zero:
        row["w"] = 0
    if i in plan.h_big:
        row["h"] = 100_000
    if i in plan.null_caption:
        row["caption"] = None
    if i in plan.bad_id:
        row["image_id"] = f"IMG_{i}"
    return row


IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, part_id int"
)


def generate_images_df(spark, cfg: FixtureConfig):
    """Distributed generation: spark.range → mapInPandas (Arrow batches)."""
    import pandas as pd

    plan = build_plan(cfg)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            rows = [make_row(int(i), cfg, plan) for i in b["id"]]
            yield pd.DataFrame(rows)

    n_tasks = max(cfg.n_parts, 32)
    return (
        spark.range(0, cfg.n, 1, n_tasks)
        .mapInPandas(gen, schema=IMAGES_DDL)
    )


def write_images(spark, cfg: FixtureConfig, path: str) -> None:
    generate_images_df(spark, cfg).write.mode("overwrite").partitionBy("part_id").parquet(path)


def dim_fmt_df(spark):
    return spark.createDataFrame(
        [("png", "image/png"), ("bmp", "image/bmp"), ("raw", "application/octet-stream"),
         ("jpeg", "image/jpeg")],
        "fmt string, mime string",
    )


def dim_license_df(spark, cfg: FixtureConfig):
    """All generated ids EXCEPT the license-orphan plants (FIXTURES.md §2).

    The exclusion is an anti-join against a DataFrame of planted ids, not an
    ``isin`` literal list — at fixture sizes in the millions the list form
    would compile a multi-thousand-term predicate (codegen blowup)."""
    from pyspark.sql import functions as F

    plan = build_plan(cfg)
    excluded = sorted(plan.orphan_license)
    base = spark.range(0, cfg.n)
    if excluded:
        ex = spark.createDataFrame([(int(i),) for i in excluded], "id long")
        base = base.join(F.broadcast(ex), "id", "left_anti")
    return base.select(
        F.format_string("img-%012d", F.col("id")).alias("image_id"),
        F.lit("cc-by-4.0").alias("license"),
    )


SPEC_IMAGES = {
    "type": "object",
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$",
                     "minLength": 16, "maxLength": 16},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"type": "string", "enum": ["png", "bmp", "raw", "jpeg"]},
        "caption": {"type": "string", "minLength": 1, "maxLength": 4096},
        "phash": {"type": "integer"},
        # the encoded image: required, its content judged by P5/P7 only
        "bytes": {},
    },
    "required": ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
    "x-table-checks": {
        "unique": [["image_id"], ["phash"]],
        "references": [
            {"column": "fmt", "dim": "dim_fmt", "key": "fmt"},
            {"column": "image_id", "dim": "dim_license", "key": "image_id",
             "strategy": "shuffle_hash"},
        ],
        # object entries carry the histogram grid explicitly
        "drift": {"columns": [
            {"expr": "w", "name": "w", "lo": 0, "hi": 128, "buckets": 32},
            {"expr": "h", "name": "h", "lo": 0, "hi": 128, "buckets": 32},
            {"expr": "fmt", "name": "fmt", "kind": "categorical"},
            {"expr": "length(caption)", "name": "caption_len",
             "lo": 0, "hi": 1024, "buckets": 32},
        ], "baseline": "baseline_profile", "ks_alpha": 0.01, "psi_max": 0.2},
        # P6: flag ingestion partitions whose w/h/phash profile (mean or
        # null-rate) is a robust median/MAD outlier vs the partition
        # population — one extra aggregation over the fused cache
        "anomaly": {"columns": ["w", "h", "phash"], "z_max": 3.5},
        # round-3 stats-check family: quantile / cardinality / null-rate
        # bounds judged off the SAME fused stats scan (no extra pass)
        "quantiles": [{"column": "w", "q": 0.99, "max": 16384}],
        "distinct": [{"column": "fmt", "min": 2, "max": 10}],
        "null-rates": [{"column": "caption", "max_rate": 0.05}],
    },
}


def drift_columns():
    """The drift columns ``spec.parse`` resolves from ``SPEC_IMAGES``: the
    bucket grid of its baseline profile."""
    from .spec import parse

    return list(parse(SPEC_IMAGES).table_checks.drift_columns)
