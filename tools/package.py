"""Build dist/pdf_parser_spark.zip for spark-submit --py-files
(north rule packaging requirement). The zip is the one
``session.package_zip`` ships to executors; this script is the only
writer of dist/.

    python tools/package.py
    spark-submit --py-files dist/pdf_parser_spark.zip \
        pdf_parser_spark/jobs/extract.py --input ... --output ... --run-id r1
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pdf_parser_spark.session import package_zip  # noqa: E402


def build(out: str = "dist/pdf_parser_spark.zip") -> str:
    out_path = os.path.join(REPO, out)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    shutil.copyfile(package_zip(), out_path)
    return out_path


if __name__ == "__main__":
    print(build())
