"""Python worker daemon that forks UDF workers with pandas and pyarrow
already imported.

On a local master `session.get_spark` points `spark.python.daemon.module`
here (cluster executors start their daemon before `--py-files` reach their
path, so they keep the stock one). The JVM runs
`python -m al_drift_detection_spark.worker_daemon`; this module imports the
libraries every pandas/Arrow UDF task needs and then hands over to the stock
`pyspark.daemon.manager()`, which forks one worker per task
(`spark.python.worker.reuse=false` stays). Each fork inherits the imported
modules, so a fresh worker no longer pays the pandas + pyarrow import
(~0.2 s CPU) before its first batch.

Nothing may reach stdout before `manager()`: the JVM reads the daemon's
listening port from the first bytes on it.
"""

import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
