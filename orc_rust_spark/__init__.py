"""orc_rust_spark — a from-scratch PySpark-native per-column
lightweight-compression engine with the stripe/stream/codec model of
datafusion-contrib/orc-rust (the Apache ORC v1 format), re-expressed
Spark-first.

Layers
------
- ``codecs``    pure-NumPy encode/decode kernels (no Spark): zigzag/varint/
                bit-pack, byte RLE, boolean RLE, ORC RLEv1/RLEv2, float plain,
                string direct/dictionary, FSST, timestamp split, block
                compression, PRESENT spacing, and the codec auto-selector.
- ``operators`` Spark-side operators: the two-pass encode pipeline
                (stats -> plan -> encode) via mapInPandas, decode/verify,
                plus training-data pipeline ops (dedup, similarity search,
                text analysis, multimodal plumbing).
- ``sources``   deterministic webtext table generator (BASELINE.json
                input_hint schema) and the chunk-table schema/IO.
- ``plans``     the end-to-end resumable encode plan with per-partition
                checkpoints and lineage.
- ``streaming`` structured-streaming encode entry point.

Everything below the DataFrame API lives in vectorized NumPy kernels invoked
from Arrow-batched pandas UDFs — never per-row Python.

Importing the package inside a PySpark worker installs
``worker_setup``'s guard against the per-task re-read of zip archives on
the worker path (a no-op in the Spark driver and on CPython >= 3.13).
"""

from orc_rust_spark import worker_setup as _worker_setup

__version__ = "0.1.0"

_worker_setup.install()
