"""Run one ``spark_submit_job.py`` job in this process, then stop its
session and wait until its JVM has exited.

    python3 perfbench/submit.py train --domain code --source ... --gold ... --weights ...

``workloads.submit_job`` starts this as a child process, with the
``spark-submit`` arguments in ``PYSPARK_SUBMIT_ARGS``, for the jobs a
workload depends on. So they run in a JVM and Python workers of their own,
and the benchmarked session has run no job before its cold pass.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from perfbench.workloads import run_job, stop_spark  # noqa: E402

if __name__ == "__main__":
    try:
        run_job(*sys.argv[1:])
    finally:
        if (spark := SparkSession.getActiveSession()) is not None:
            stop_spark(spark)
