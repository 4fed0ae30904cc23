"""arcade_spark — a from-scratch PySpark-native adaptive per-column
lightweight-compression engine with the capabilities of madgik/arcade
(SIGMOD 2021 "Adaptive Compression for Fast Scans on String Columns").

Not a port: the reference (/root/reference, C++20) is a single-file,
single-threaded columnar format; this engine re-expresses the same
semantics Spark-first — encoded-blocks + manifest tables, Arrow-batched
``mapInPandas`` kernels, Catalyst-driven zone-map pruning — and extends
the codec set per the north star (RLE, FSST, bit-packing,
frame-of-reference) with a greedy cost-model selector that replicates
ARCADE's adaptive-dictionary decision logic (reference: writer.cpp:48-376).
"""

from arcade_spark import zipcache

zipcache.install()  # per-task zip re-reads in workers — see zipcache.py

__version__ = "0.1.0"

BLOCK_ROWS = 65536
"""Rows per encoded block (ARCADE uses 65535 — arcade.h:25)."""

DICT_MEMORY_CAP = 16_384_000
"""Running global-dictionary byte budget per partition before a forced
local-dict reset (ARCADE CACHE_SIZE = 8192000*2 — writer.cpp:52)."""

PLAIN_DISTINCT_RATIO = 0.80
"""distinct/count above which a block is stored plain and the global
dictionary state is reset (writer.cpp:63, writer.cpp:66-71)."""

NOVELTY_RATIO = 0.99
"""diff/distinct above which the selector prefers a local dictionary
reset over growing the global dictionary (writer.cpp:117)."""
