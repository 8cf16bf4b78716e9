"""Side-output artifacts (SURVEY S12).

The reference extracts embedded album art bytes and writes them as
side-output .jpg files (its app/core.py:943-958) next to an .nfo XML
file per track. The engine derives the same artifacts as a
table (``side_output_artifacts``) instead of mutating a filesystem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: XML template of the reference's NFO side output
#: (/root/reference/app/core.py:906-914): title falls back to the file
#: stem, runtime is the m:ss string of core.py:906. Engine analogs for
#: the source-code corpus: artist -> repo, album -> directory,
#: duration -> size_chars.
_NFO_XML = (
    '<?xml version="1.0" encoding="utf-8" standalone="yes"?>\n'
    "<musicvideo>\n"
    "  <title>%s</title>\n"
    "  <artist>%s</artist>\n"
    "  <album>%s</album>\n"
    "  <plot></plot>\n"
    "  <runtime>%d:%02d</runtime>\n"
    "</musicvideo>"
)


def side_output_artifacts(files: DataFrame, art_col: str | None = None) -> DataFrame:
    """S12 analog (task_extract_meta, /root/reference/app/core.py:890-958):
    derive the side-output artifact table instead of mutating a
    filesystem. Three artifact kinds, exactly the reference's writes:

    - ``nfo``    — one per file; payload = the XML template of
      core.py:907-914 (title|artist|album|plot|runtime m:ss).
    - ``jpg``    — one per file (core.py:943-951); payload = base64 of
      the embedded-art binary column ``art_col`` when present, null when
      the file carries no art (the reference's _extract_album_art -> None).
    - ``folder`` — one ``folder.jpg`` per directory (core.py:953-958);
      payload = the art of the lowest file_id in the directory that has
      art (the reference writes folder.jpg once, from the first file
      processed — min id is the deterministic analog). Directories with
      no art emit no folder row, matching ``if art_data:``.

    Scales as one projection (nfo+jpg) plus one groupBy per directory
    (folder) — no joins on the payload bytes except the single
    min-id-per-dir aggregation, which moves each art blob once.
    """
    from music_dedupe_spark.functions.text import dirname_col, stem_col, filename_col

    fname = filename_col(F.col("path"))
    stem = stem_col(fname)
    dirn = dirname_col(F.col("path"))
    base = F.concat_ws("/", F.nullif(dirn, F.lit("")), stem)
    dur = F.coalesce(F.col("size_chars"), F.lit(0)).cast("bigint")
    nfo_payload = F.format_string(
        _NFO_XML,
        F.coalesce(F.nullif(F.col("title"), F.lit("")), stem),
        F.col("repo"),
        F.coalesce(F.nullif(dirn, F.lit("")), F.col("repo")),
        (dur / 60).cast("bigint"),
        dur % 60,
    )
    nfo = files.select(
        F.col("file_id"),
        F.concat(base, F.lit(".nfo")).alias("artifact_path"),
        F.lit("nfo").alias("artifact_kind"),
        nfo_payload.alias("artifact_payload"),
    )
    art = F.col(art_col) if art_col else F.lit(None).cast("binary")
    jpg = files.select(
        F.col("file_id"),
        F.concat(base, F.lit(".jpg")).alias("artifact_path"),
        F.lit("jpg").alias("artifact_kind"),
        F.base64(art).alias("artifact_payload"),
    )
    out = nfo.unionByName(jpg)
    if art_col:
        folder = (
            files.filter(F.col(art_col).isNotNull())
            .select(dirn.alias("_dir"), "file_id", F.col(art_col).alias("_art"))
            .groupBy("_dir")
            .agg(F.min(F.struct("file_id", "_art")).alias("_first"))
            .select(
                F.col("_first.file_id").alias("file_id"),
                F.concat_ws("/", F.nullif(F.col("_dir"), F.lit("")), F.lit("folder.jpg")).alias(
                    "artifact_path"
                ),
                F.lit("folder").alias("artifact_kind"),
                F.base64(F.col("_first._art")).alias("artifact_payload"),
            )
        )
        out = out.unionByName(folder)
    return out
