"""Seeded end-to-end benchmark of the nightly indicator job, the
streaming RSI feed and near-duplicate grouping of a text corpus.

Run from the repository root::

    python3 perfbench/run.py --workload daily_session --seed 1 --seconds 6 --trace 0

See ``perfbench/run.py`` for the workloads and the metrics it prints.
"""
