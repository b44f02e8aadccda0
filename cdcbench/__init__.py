"""CDC apply benchmark for kafka_mongo_watcher_spark.

Run one workload with ``python3 cdcbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root; see README.md in this
directory for the workloads, the metrics and what each one should move.
"""
