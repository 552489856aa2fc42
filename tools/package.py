"""Build dist/pdf_parser_spark.zip for spark-submit --py-files
(north rule packaging requirement).

    python tools/package.py
    spark-submit --py-files dist/pdf_parser_spark.zip \
        pdf_parser_spark/jobs/extract.py --input ... --output ... --run-id r1
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.session import build_package_zip  # noqa: E402

if __name__ == "__main__":
    print(build_package_zip())
