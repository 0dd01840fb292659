"""spark-submit entry point for the QA pipeline.

Cluster usage (north_rule deployment shape):

    python tools/package.py                       # → dist/isimip_qa_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/isimip_qa_spark.zip \
        jobs/qa_submit.py --input s3://pages --output s3://scored \
        --chunks 64 --window 2024-01-01:2024-02-01

On the cluster the input is the Iceberg pages table; locally a parquet
directory with the same schema. Re-submitting with the same --output resumes
from the chunk manifest. All logic lives in isimip_qa_spark.cli (shipped in
the zip); this stub is the primary-resource file spark-submit wants.
"""

import sys

from isimip_qa_spark.cli import main

if __name__ == "__main__":
    sys.exit(main())
