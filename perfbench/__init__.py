"""CDC ingest benchmark for concept_catalog_etl_spark.

Run one workload per process::

    python3 perfbench/run.py --workload tail_mor_read --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` re-runs the
workload with spans and a Spark event log and reports the per-layer metrics.
Everything the benchmark writes lives under ``.perfbench/`` in the checkout.
"""
