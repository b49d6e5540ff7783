"""Image file source (the reference's S1 scan + F1 extension filter).

``os.walk`` + suffix check (appV2.py:132-137, extensions at appV2.py:17)
becomes a ``binaryFile`` scan: the extension predicate is applied AT FILE
LISTING via ``pathGlobFilter`` (never reads rejected files' bytes — the
scan-time-predicate hand-optimization the reference does, SURVEY.md §4, is
free here), and recursion is the ``recursiveFileLookup`` option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# appV2.py:17 — suffix match is case-insensitive there (lower() at :135).
# Hadoop globs are case-sensitive, so each extension is spelled with one
# character class per letter (``[jJ][pP][gG]``): every case mix matches.
IMAGE_EXTENSIONS = ["jpg", "jpeg", "png", "webp", "bmp", "gif"]
_GLOB = "*.{%s}" % ",".join(
    "".join(f"[{c}{c.upper()}]" for c in e) for e in IMAGE_EXTENSIONS
)


def scan_images(spark: SparkSession, folder: str, recursive: bool = False) -> DataFrame:
    """S1: (path, modificationTime, length, content) for image files."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _GLOB)
        .option("recursiveFileLookup", str(bool(recursive)).lower())
        .load(folder)
    )
