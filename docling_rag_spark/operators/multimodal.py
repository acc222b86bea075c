"""Multimodal column operators — binary media with typed metadata.

The reference ingests images/audio alongside documents (MIME map,
reference src/ingestion/document.py:24-53; picture description options
:130-146). At 100 TB media lives as opaque `binary` columns (or object-store
refs) with typed metadata; decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` kernels.

Image/audio libs are NOT in this container, so the decode step is a
deterministic fake behind an import-try (clearly marked); the Spark-side
plumbing — schema, batch shape, UDF signature, partitioning — is real and
tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import table

if TYPE_CHECKING:
    import pandas as pd

# Driver-sortable projection: the correctness gate canonicalizes rows by
# sorting every column, so the raw feature array (a Python list per cell —
# unhashable) is summarized as (feat_md5, feat_dim). The md5 is over the
# comma-joined INTEGER feature codes (floats = code/255.0), so the DuckDB
# oracle reproduces it exactly with no float-formatting ambiguity.
FEATURES_SCHEMA = (
    "doc_id long, media_ref string, media_kind string, feat_md5 string, "
    "feat_dim int, width int, height int, decode_status string"
)
FEAT_DIM = 8


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from documents: binary payload
    = md5-stream bytes; typed metadata columns. Stands in for an Iceberg
    blob/metadata table."""
    docs = table(spark, sf_dir, "documents")
    payload = F.unhex(F.md5(F.concat_ws("|", "doc_id", "text")))
    return docs.select(
        "doc_id",
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.when(F.col("doc_id") % 3 == 0, "audio").otherwise("image").alias("media_kind"),
        payload.alias("content"),
        (F.col("doc_id") % 1920 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 1080 + 16).cast("int").alias("height"),
        F.when(F.col("doc_id") % 3 == 0, (F.col("doc_id") % 60000).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("duration_ms"),
    )


def _decode_features(content: bytes, kind: str) -> tuple[list[float], str]:
    """Decode + feature-extract. Real decoders unavailable → deterministic
    fake features from the bytes; the try/except gates the real path.

    The fake hashes the HEX STRING of the payload (not the raw bytes) so the
    DuckDB oracle — whose md5 only accepts VARCHAR — can replay it.
    """
    try:
        if kind == "image":
            import PIL  # noqa: F401

            raise NotImplementedError("real image decode not wired in sandbox")
        import soundfile  # noqa: F401

        raise NotImplementedError("real audio decode not wired in sandbox")
    except ImportError:
        h = hashlib.md5((content or b"").hex().encode()).hexdigest()
        feat = [int(h[i : i + 2], 16) / 255.0 for i in range(0, 2 * FEAT_DIM, 2)]
        return feat, "fake-decode"


def _media_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    for pdf in batches:
        md5s, dims, status = [], [], []
        for content, kind in zip(pdf["content"], pdf["media_kind"]):
            f, s = _decode_features(bytes(content) if content is not None else b"", kind)
            codes = ",".join(str(round(x * 255)) for x in f)
            md5s.append(hashlib.md5(codes.encode()).hexdigest())
            dims.append(len(f))
            status.append(s)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "media_kind": pdf["media_kind"],
                "feat_md5": md5s,
                "feat_dim": dims,
                "width": pdf["width"],
                "height": pdf["height"],
                "decode_status": status,
            }
        )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media table → per-item feature vectors via mapInPandas (the
    decode/feature-extract stage; frame-sampling/resize would be additional
    columns out of the same kernel)."""
    # no repartition: scan splits already parallelize; a blind full shuffle
    # of the binary payloads would only add cost at scale
    media = synth_media(spark, sf_dir)
    return media.mapInPandas(_media_kernel, schema=FEATURES_SCHEMA)


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup (pure relational; SQL-oracle-checkable)."""
    media = synth_media(spark, sf_dir)
    return media.groupBy("media_kind").agg(
        F.count("*").alias("n_items"),
        F.max("width").alias("max_width"),
        F.round(F.avg("duration_ms"), 6).alias("avg_duration_ms"),
        F.sum(F.length("content")).alias("total_bytes"),
    )


MEDIA_STATS_SQL = """
select case when doc_id % 3 = 0 then 'audio' else 'image' end as media_kind,
       count(*) as n_items,
       max((doc_id % 1920 + 16)::int) as max_width,
       round(avg(case when doc_id % 3 = 0 then (doc_id % 60000)::int end), 6)
         as avg_duration_ms,
       -- cast: DuckDB sum(int) is HUGEINT → float64 in pandas; Spark is int64
       cast(sum(octet_length(unhex(md5(doc_id::varchar || '|' || text))))
            as bigint) as total_bytes
from documents
group by 1
"""


def _feat_md5_sql() -> str:
    """DuckDB mirror of the fake decode: h = md5(hex(content)) = md5(md5(key))
    since content = unhex(md5(key)); feature codes are the first FEAT_DIM
    hex-pair bytes of h, md5'd as a comma-joined int string."""
    hexd = "0123456789abcdef"
    val = lambda i: (  # noqa: E731
        f"((strpos('{hexd}', substr(h, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('{hexd}', substr(h, {2 * i + 2}, 1)) - 1))"
    )
    joined = " || ',' || ".join(f"{val(i)}::varchar" for i in range(FEAT_DIM))
    return f"md5({joined})"


MEDIA_FEATURES_SQL = f"""
with t as (
  select doc_id, md5(md5(doc_id::varchar || '|' || text)) as h from documents
)
select doc_id,
       'img://' || doc_id::varchar as media_ref,
       case when doc_id % 3 = 0 then 'audio' else 'image' end as media_kind,
       {_feat_md5_sql()} as feat_md5,
       {FEAT_DIM}::int as feat_dim,
       (doc_id % 1920 + 16)::int as width,
       (doc_id % 1080 + 16)::int as height,
       'fake-decode' as decode_status
from t
"""

# --------------------------------------------------------------------------
# resize / frame-sample (the remaining multimodal verbs): same mapInPandas
# plumbing as the decode kernel. Real resampling needs the absent media
# libs, so the byte transform is the deterministic fake (md5 of the
# payload hex + params); the geometry/sampling math is real and frozen:
# - images resize to fit RESIZE_MAX px (aspect-preserving floor division),
#   one sample
# - audio frame-samples at 1 frame/sec of duration (>=1), offsets in ms
# --------------------------------------------------------------------------
RESIZE_MAX = 256
FRAME_HZ_MS = 1000


def _transform_one(
    kind: str, content: bytes, w: int, h: int, dur: int | None
) -> tuple[int, int, int, str]:
    if kind == "image":
        g = max(w, h)
        if g <= RESIZE_MAX:
            ow, oh = w, h
        else:
            ow, oh = w * RESIZE_MAX // g, h * RESIZE_MAX // g
        offsets = [0]
    else:  # audio: no geometry; sample 1 frame per second of duration
        ow, oh = w, h
        n = max(1, (dur or 0) // FRAME_HZ_MS)
        offsets = [i * FRAME_HZ_MS for i in range(n)]
    key = f"{(content or b'').hex()}|{ow}x{oh}|{','.join(map(str, offsets))}"
    return ow, oh, len(offsets), hashlib.md5(key.encode()).hexdigest()


def _transform_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    for pdf in batches:
        ows, ohs, ns, md5s = [], [], [], []
        for kind, content, w, h, dur in zip(
            pdf["media_kind"], pdf["content"], pdf["width"], pdf["height"],
            pdf["duration_ms"],
        ):
            ow, oh, n, m = _transform_one(
                kind,
                bytes(content) if content is not None else b"",
                int(w),
                int(h),
                None if pd.isna(dur) else int(dur),
            )
            ows.append(ow)
            ohs.append(oh)
            ns.append(n)
            md5s.append(m)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "media_kind": pdf["media_kind"],
                "out_w": ows,
                "out_h": ohs,
                "n_samples": ns,
                "transform_md5": md5s,
            }
        )


TRANSFORM_SCHEMA = (
    "doc_id long, media_ref string, media_kind string, out_w int, out_h int, "
    "n_samples int, transform_md5 string"
)


def media_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_media(spark, sf_dir).mapInPandas(
        _transform_kernel, schema=TRANSFORM_SCHEMA
    )


def _media_transform_sql() -> str:
    # mirror of _transform_one over the synth_media derivation
    w = "(doc_id % 1920 + 16)"
    h = "(doc_id % 1080 + 16)"
    g = f"greatest({w}, {h})"
    ow = f"(case when {g} <= {RESIZE_MAX} then {w} else {w} * {RESIZE_MAX} // {g} end)"
    oh = f"(case when {g} <= {RESIZE_MAX} then {h} else {h} * {RESIZE_MAX} // {g} end)"
    dur = f"(doc_id % 60000)"
    n_aud = f"greatest(1, {dur} // {FRAME_HZ_MS})"
    aud_offsets = (
        f"array_to_string(list_transform(range(0, {n_aud}),"
        f" i -> i * {FRAME_HZ_MS}), ',')"
    )
    hexpayload = "md5(doc_id::varchar || '|' || text)"
    return f"""
select doc_id,
       'img://' || doc_id::varchar as media_ref,
       case when doc_id % 3 = 0 then 'audio' else 'image' end as media_kind,
       (case when doc_id % 3 = 0 then (doc_id % 1920 + 16) else {ow} end)::int
         as out_w,
       (case when doc_id % 3 = 0 then (doc_id % 1080 + 16) else {oh} end)::int
         as out_h,
       (case when doc_id % 3 = 0 then {n_aud} else 1 end)::int as n_samples,
       md5({hexpayload} || '|' ||
           (case when doc_id % 3 = 0 then (doc_id % 1920 + 16) else {ow} end)
             ::varchar
           || 'x' ||
           (case when doc_id % 3 = 0 then (doc_id % 1080 + 16) else {oh} end)
             ::varchar
           || '|' ||
           (case when doc_id % 3 = 0 then {aud_offsets} else '0' end))
         as transform_md5
from documents
"""


MEDIA_TRANSFORM_SQL = _media_transform_sql()

QUERIES = {
    "media_features": media_features,
    "media_transform": media_transform,
}
ORACLES = {
    "media_features": MEDIA_FEATURES_SQL,
    "media_transform": MEDIA_TRANSFORM_SQL,
}
# media_stats is a rollup of media_features — retired from the 50-slot
# driver contract, oracle-checked by tests/test_extended_oracles.py.
EXTRA_QUERIES = {"media_stats": media_stats}
EXTRA_ORACLES = {"media_stats": MEDIA_STATS_SQL}
