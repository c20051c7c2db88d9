"""100× scale spot-check for the round-17 surface (all
documents-only readers, so the ``.scale100`` replication covers
them).

Expected shapes:
- ``odf_text_check`` — map-side fixture build + stdlib zip walk +
  regex ODF content extraction per row, no shuffle: ~linear.
- ``mbox_text_check`` — envelope split + stdlib ``email`` parse per
  message (1-3 per row), map-side: ~linear.
- ``http_content_encoding_check`` — wire decode per row (classes 12
  and 13 through pyarrow's native brotli, classes 10/11 through the
  pure RFC 8878 zstd tier); one map-side projection: ~linear.
- ``pdf_encrypted_text_check`` — re-profiled after the AES-256
  classes (two of seven schemes now run Algorithm 2.B ×2 plus
  AES-256-CBC streams through the accelerated seam): ~linear.
- ``pdf_image_hash_check`` — re-profiled after the CCITT classes
  (two of seven packagings decode G4 in pure Python): ~linear.
- ``tiff_pixel_hash_check`` — re-profiled at 12 packagings (tiled /
  planar / palette / deflate / JPEG-in-TIFF): ~linear.

Usage: SPARK_DRIVER_MEMORY=12g SPARK_GRAFT_CPUS=24 \\
    python tools/spotcheck_r17.py [scale_dir]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from dwc_dataframe_validator_spark import registry
from dwc_dataframe_validator_spark.sources.tables import local_session

OPS = (
    "odf_text_check",
    "mbox_text_check",
    "http_content_encoding_check",
    "pdf_encrypted_text_check",
    "pdf_image_hash_check",
    "tiff_pixel_hash_check",
)


def main() -> None:
    scale_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale100"
    spark = local_session("spotcheck-r17")
    spark.sparkContext.setLogLevel("ERROR")
    # bound Arrow batches (the r16 OOM lesson): 1k rows/batch keeps
    # the double-mapInPandas stages ~0.4 GB per worker
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    queries = registry.get_queries()
    out = {}
    for name in OPS:
        row = {}
        for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"),
                              ("x100", scale_dir)):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            row[label] = round(time.time() - t0, 1)
            spark.catalog.clearCache()
        row["ratio"] = round(row["x100"] / max(row["sf0.1"], 0.1), 1)
        out[name] = row
        print(f"{name}: {row}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
