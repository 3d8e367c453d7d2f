"""Image-file ingestion via the JVM image source.

:func:`read_image_files` wraps ``spark.read.format("image")``: the JVM
decodes (ImageIO: JPEG/PNG/BMP/GIF/WBMP) into a typed struct
``image(origin, height, width, nChannels, mode, data)`` with pixels in
channel-interleaved **BGR(A)** row-major order.  It is the ground-truth
oracle for the hermetic pure-Python codecs: ``tests/test_jpeg_codec.py``
compares ``functions/jpegmini.py`` against it pixel-for-pixel.
(Reference analogue: the volume PDF/image listing in
``processors/ocr.py:27-40``, generalized to images.)

A plain file source: partition-parallel listing and reads, and
``pathGlobFilter``/``recursiveFileLookup`` pushdown for directory trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: struct emitted by the Spark image source (pixels are BGR(A) bytes)
IMAGE_STRUCT_FIELDS = ("origin", "height", "width", "nChannels", "mode",
                      "data")


def read_image_files(spark: SparkSession, path: str,
                     recursive: bool = True,
                     glob: str | None = None) -> DataFrame:
    """JVM-decoded pixels: one row per image file, flattened image struct.

    Undecodable files keep their row (``height = -1``, empty ``data``) so
    corpus audits can count them; filter ``height > 0`` for decoded rows.
    """
    r = (spark.read.format("image")
         .option("dropInvalid", "false")
         .option("recursiveFileLookup", str(recursive).lower()))
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    return df.select(*[df["image"][f].alias(f) for f in IMAGE_STRUCT_FIELDS])
