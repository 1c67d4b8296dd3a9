"""PySpark-native time-series rollup + downsample + retention engine.

A from-scratch, Spark-first re-expression of the capabilities of
``Pennsieve/processor-post-timeseries`` (reference surveyed in SURVEY.md):
gap-fill, Gorilla-style delta-of-delta / XOR compression into binary block
columns, cascading continuous aggregates (raw -> 1s -> 1m -> 1h retention
tiers), explicit salt/bucket partitioning with AQE skew handling, and
per-partition lineage + checkpoint resumability — over tables of
pre-tokenized training sequences ``(doc_id, tokens:array<int32>, n_tok,
source)``.

Everything here is DataFrame/Catalyst-first; Python appears only inside
Arrow-vectorized pandas UDFs (codec bit-packing, per-row window reshapes).
"""

from . import _zipcache

__version__ = "0.1.0"

# in a Spark Python worker, runs while the first engine kernel unpickles
_zipcache.install()
