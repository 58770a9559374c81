"""B27/B28 — vectorized phash UDF + sampled decoded-pixel PSNR fidelity pass.

BASELINE.json:6/15: per-row fidelity vs the reference generator — decoded
pixels within PSNR ≥ 40 dB (lossless ⇒ bit-exact) and caption byte-equality
— via "pandas/Arrow UDFs with zero per-row Python" (Arrow batches cross the
JVM↔Python boundary; Python never sees one row at a time through the
serializer).

Scale design: the fidelity pass is the ONLY pass that reads ``bytes``. It
runs on ``df.sample(fraction)`` so the heavy binary column is decoded for a
bounded sample regardless of table size; the sample predicate is applied in
the same scan, and at 10^12 rows the expected cost is fraction-proportional.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions import imagecodecs as codecs
from .. import fixtures as FX

PSNR_MIN_DB = 40.0

FIDELITY_SCHEMA = (
    "part_id int, row_key string, keyword string, path string, value string"
)


def sampled_slice(
    df: DataFrame,
    fraction: float,
    seed: int,
    part_col: str,
    parts_fraction: float | None = None,
) -> DataFrame:
    """The fidelity sample. Plain ``df.sample(fraction)`` keeps the DECODE
    cost fraction-proportional but not the IO: Parquet/Iceberg must still
    read every ``bytes`` page because a random row predicate prunes nothing
    — at 10^12 rows that is a full scan of the heaviest column to decode
    0.1%% of it.

    ``parts_fraction`` turns this into a two-stage cluster sample: keep a
    deterministic hash-slice of the PARTITIONS (``xxhash64(part_id, seed)``
    — a deterministic predicate on the partition column, so the source
    prunes unselected partitions at file level), then row-sample inside the
    kept partitions at ``fraction / parts_fraction`` so the OVERALL row
    fraction is unchanged. IO becomes fraction-proportional; the trade is
    cluster sampling (unsampled partitions get no fidelity verdict this
    run) — production rotates ``seed`` per run so coverage accumulates
    across scheduled runs."""
    if parts_fraction is not None and parts_fraction < 1.0:
        dom = 1 << 16
        df = df.where(
            F.pmod(F.xxhash64(F.col(part_col), F.lit(seed)), F.lit(dom))
            < int(dom * parts_fraction)
        )
        fraction = min(1.0, fraction / parts_fraction)
    if fraction >= 1.0:
        return df
    return df.sample(fraction=fraction, seed=seed)


def phash_pandas(bytes_s: pd.Series, fmt_s: pd.Series, w_s: pd.Series, h_s: pd.Series) -> pd.Series:
    """Recompute the 64-bit perceptual hash from encoded bytes (B27).

    raw-format rows need no codec loop: within each Arrow batch they are
    grouped by (w, h), stacked, and hashed by the vectorized phash64_batch
    (bit-identical to the scalar path). png/bmp rows go through the pure-
    Python codec per row — irreducible without an external decoder."""
    out = np.zeros(len(bytes_s), dtype=np.int64)
    fmt_v = fmt_s.to_numpy()
    w_v, h_v = w_s.to_numpy(dtype=np.int64), h_s.to_numpy(dtype=np.int64)
    is_raw = ~np.isin(fmt_v, ["png", "bmp"])
    if is_raw.any():
        idx = np.flatnonzero(is_raw)
        sizes = w_v[idx] * h_v[idx] * 3
        ok = np.array([len(bytes_s.iat[j]) == s and s > 0 for j, s in zip(idx, sizes)])
        for w, h in {(int(w_v[j]), int(h_v[j])) for j in idx[ok]}:
            grp = idx[ok][(w_v[idx[ok]] == w) & (h_v[idx[ok]] == h)]
            stack = np.stack([
                np.frombuffer(bytes(bytes_s.iat[j]), dtype=np.uint8).reshape(h, w, 3)
                for j in grp
            ])
            out[grp] = FX.phash64_batch(stack)
    for k in np.flatnonzero(~is_raw):
        try:
            px = codecs.decode(bytes(bytes_s.iat[k]), fmt_v[k], int(w_v[k]), int(h_v[k]))
            out[k] = FX.phash64(px)
        except Exception:
            out[k] = 0
    return pd.Series(out)


def phash_udf():
    return F.pandas_udf(phash_pandas, LongType())


def fidelity_violations(
    df: DataFrame,
    cfg: FX.FixtureConfig,
    fraction: float = 0.01,
    seed: int = 7,
    part_col: str = "part_id",
    parts_fraction: float | None = None,
) -> DataFrame:
    """Sampled fidelity: decode(bytes) vs the deterministic generator's
    pixels (PSNR ≥ 40 dB; lossless formats bit-exact) + caption equality.

    Rows whose image_id does not parse back to a generator index (i.e. the
    planted bad-id rows) are reported as unverifiable fidelity violations.
    """
    sampled = sampled_slice(
        df.select(part_col, "image_id", "bytes", "fmt", "w", "h", "caption"),
        fraction, seed, part_col, parts_fraction,
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                rid = r.image_id or ""
                if not (rid.startswith("img-") and rid[4:].isdigit()):
                    rows.append((r.part_id, rid, "fidelity", "/image_id", "unparseable id"))
                    continue
                i = int(rid[4:])
                drifted = (i % cfg.n_parts) == cfg.drift_part
                w0, h0 = FX.dims_for(i, drifted)
                expected_px = FX.pixels_for(i, w0, h0)
                try:
                    got = codecs.decode(bytes(r.bytes), r.fmt if r.fmt in ("png", "bmp") else "raw", w0, h0)
                    p = codecs.psnr(expected_px, got)
                except Exception as e:
                    rows.append((r.part_id, rid, "fidelity", "/bytes", f"decode-error:{e}"))
                    continue
                if p < PSNR_MIN_DB:
                    rows.append((r.part_id, rid, "fidelity", "/bytes", f"psnr={p:.2f}"))
                expected_cap = FX.caption_for(i, doubled=drifted)
                if r.caption != expected_cap:
                    rows.append((r.part_id, rid, "fidelity", "/caption", "caption-mismatch"))
            yield pd.DataFrame(
                rows, columns=["part_id", "row_key", "keyword", "path", "value"]
            )

    return sampled.mapInPandas(check, schema=FIDELITY_SCHEMA)


def _decode_any(raw: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    return codecs.decode(raw, fmt if fmt in ("png", "bmp") else "raw", int(w), int(h))


def fidelity_violations_phash(
    df: DataFrame,
    fraction: float = 0.01,
    seed: int = 7,
    part_col: str = "part_id",
    phash_col: str = "phash",
    parts_fraction: float | None = None,
) -> DataFrame:
    """Reference-FREE fidelity: recompute the 64-bit perceptual hash from the
    encoded ``bytes`` and compare against the table's own stored ``phash``
    column — the production shape for any table carrying a trusted phash
    (the north-rule input schema does: BASELINE.json input_hint). No
    generator coupling, no second table; runs on arbitrary inputs.

    A mismatch means the stored bytes no longer decode to the pixels the
    phash was computed from (corruption, re-encode, wrong association).
    Undecodable bytes surface as decode-error violations."""
    sampled = sampled_slice(
        df.select(part_col, "image_id", "bytes", "fmt", "w", "h",
                  F.col(phash_col).alias("_ph")),
        fraction, seed, part_col, parts_fraction,
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            # vectorized batch phash over the whole Arrow batch (raw rows
            # grouped+stacked, png/bmp through the codec) — same kernel as
            # the phash UDF, zero per-row Python on the raw path
            got = phash_pandas(b["bytes"], b["fmt"], b["w"], b["h"]).to_numpy()
            isnull = b["_ph"].isna().to_numpy()
            stored = b["_ph"].fillna(0).to_numpy(dtype=np.int64)
            bad = np.flatnonzero((got != stored) | isnull)
            for j in bad:
                r = b.iloc[j]
                s = "null" if isnull[j] else str(int(stored[j]))
                rows.append((r["part_id"], r["image_id"], "fidelity", "/phash",
                             f"stored={s} recomputed={int(got[j])}"))
            yield pd.DataFrame(
                rows, columns=["part_id", "row_key", "keyword", "path", "value"]
            )

    return sampled.mapInPandas(check, schema=FIDELITY_SCHEMA)


def fidelity_violations_ref(
    df: DataFrame,
    ref: DataFrame,
    fraction: float = 0.01,
    seed: int = 7,
    part_col: str = "part_id",
    key_col: str = "image_id",
    parts_fraction: float | None = None,
) -> DataFrame:
    """Reference-TABLE fidelity (the BASELINE.json per-row invariant run
    against stored ground truth): for a sampled slice, decode the fact
    row's bytes AND the reference row's bytes, require PSNR >= 40 dB
    (lossless pairs: bit-exact => PSNR inf) and caption byte-equality.

    ``ref`` has the same shape as the fact table (image_id, bytes, fmt, w,
    h, caption). Scale shape: the SAMPLE is taken first, so the join ships
    only fraction x |fact| rows against the reference. The join is a plain
    equi-join and AQE picks its physical strategy from runtime sizes (the
    sample side's size is fraction-dependent and unknowable at plan time):
    shuffle-hash vs sort-merge, with skewed key ranges split.

    Rows with no reference row are unverifiable -> violations."""
    sampled = sampled_slice(
        df.select(part_col, key_col, "bytes", "fmt", "w", "h", "caption"),
        fraction, seed, part_col, parts_fraction,
    )
    r = ref.select(
        F.col(key_col).alias("r_key"), F.col("bytes").alias("r_bytes"),
        F.col("fmt").alias("r_fmt"), F.col("w").alias("r_w"),
        F.col("h").alias("r_h"), F.col("caption").alias("r_caption"),
    )
    joined = sampled.join(r, sampled[key_col] == r["r_key"], "left")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for row in b.itertuples(index=False):
                rid = getattr(row, key_col)
                pid = getattr(row, part_col)
                if getattr(row, "r_key") is None:
                    rows.append((pid, rid, "fidelity", f"/{key_col}", "no-reference-row"))
                    continue
                try:
                    got = _decode_any(bytes(row.bytes), row.fmt, row.w, row.h)
                    want = _decode_any(bytes(row.r_bytes), row.r_fmt, row.r_w, row.r_h)
                except Exception as e:
                    rows.append((pid, rid, "fidelity", "/bytes", f"decode-error:{e}"))
                    continue
                if got.shape != want.shape:
                    rows.append((pid, rid, "fidelity", "/bytes",
                                 f"shape={got.shape} ref={want.shape}"))
                else:
                    p = codecs.psnr(want, got)
                    if p < PSNR_MIN_DB:
                        rows.append((pid, rid, "fidelity", "/bytes", f"psnr={p:.2f}"))
                if row.caption != row.r_caption:
                    rows.append((pid, rid, "fidelity", "/caption", "caption-mismatch"))
            yield pd.DataFrame(
                rows, columns=["part_id", "row_key", "keyword", "path", "value"]
            )

    return joined.mapInPandas(check, schema=FIDELITY_SCHEMA)
