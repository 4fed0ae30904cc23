"""Per-partition running global dictionary — the reference's core
novelty (differential global dictionary, writer.cpp:167-253): each block
stores only the values *new* relative to the running dictionary, and its
codes index the concatenated dictionary. The dictionary's scope in the
reference is one arcade file; ours is one Spark partition (SURVEY.md §1
mapping), with the segment map recorded as manifest rows instead of
(blocknum, lendiff) pairs walked by pointer (process.cpp:88-105).

``epoch`` increments on every reset (plain high-cardinality block —
writer.cpp:66-71 — or local-dict reset — writer.cpp:117, :114-116) so
decode can verify it replays the same reset lineage.
"""

from __future__ import annotations

import numpy as np


class GlobalDict:
    __slots__ = ("lookup", "values", "nbytes", "epoch",
                 "diff_dump_total", "diff_dump_count")

    def __init__(self) -> None:
        self.lookup: dict[bytes, int] = {}
        self.values: list[bytes] = []
        self.nbytes: int = 0
        self.epoch: int = 0
        # serialized-diff-size history for the forward-projection cost
        # model (ARCADE's ``sizediff`` vector, writer.cpp:126-131;
        # cleared on reset like writer.cpp's local/plain paths)
        self.diff_dump_total: int = 0
        self.diff_dump_count: int = 0

    def __len__(self) -> int:
        return len(self.values)

    def reset(self) -> None:
        self.lookup = {}
        self.values = []
        self.nbytes = 0
        self.epoch += 1
        self.diff_dump_total = 0
        self.diff_dump_count = 0

    def record_diff_dump(self, nbytes: int) -> None:
        """Record the serialized size of an emitted diff segment
        (``sizediff.push_back``, writer.cpp:180)."""
        self.diff_dump_total += int(nbytes)
        self.diff_dump_count += 1

    def diff_avg(self, default: int) -> int:
        """Mean historical diff dump size (``diffavg``, writer.cpp:127-131)."""
        if self.diff_dump_count == 0:
            return default
        return self.diff_dump_total // self.diff_dump_count

    def diff(self, sorted_uniques: np.ndarray) -> list[bytes]:
        """Values of this block not yet in the dictionary (input is the
        block's sorted distinct set; result preserves sorted order —
        the reference also serializes sorted diffs, writer.cpp:57)."""
        lk = self.lookup
        return [v for v in sorted_uniques if v not in lk]

    def append(self, diff_values: list[bytes]) -> int:
        """Append a diff segment; returns the global offset where it
        starts (ARCADE's `global_len_before`, process.cpp:282-289)."""
        start = len(self.values)
        lk = self.lookup
        for i, v in enumerate(diff_values):
            lk[v] = start + i
        self.values.extend(diff_values)
        self.nbytes += sum(len(v) for v in diff_values) + 16 * len(diff_values)
        return start

    def codes_for(self, sorted_uniques: np.ndarray, local_codes: np.ndarray) -> np.ndarray:
        """Map block-local factorized codes to global codes."""
        lk = self.lookup
        uniq_gid = np.fromiter(
            (lk[v] for v in sorted_uniques), dtype=np.int64, count=len(sorted_uniques)
        )
        return uniq_gid[local_codes]


class GlobalDictDecoder:
    """Decode-side replay: append each block's diff segment in block
    order (the reader rebuilds the running dict incrementally as it
    pages — reader.cpp:146-195, process.cpp:466-471). Segments are kept
    as Arrow chunks; ``entries`` concatenates them once per change.
    ``core.replay_str_block`` is the one rule that drives it."""

    __slots__ = ("chunks", "_n", "epoch", "_entries")

    def __init__(self) -> None:
        self.chunks: list = []
        self._n = 0
        self.epoch = 0
        self._entries = None

    def __len__(self) -> int:
        return self._n

    def reset(self) -> None:
        self.chunks = []
        self._n = 0
        self.epoch += 1
        self._entries = None

    def append(self, segment) -> None:
        """Append one large_binary segment."""
        if len(segment):
            self.chunks.append(segment)
            self._n += len(segment)
            self._entries = None

    @property
    def entries(self):
        """The running dictionary as one large_binary array — the same
        object until the next append or reset, so a consumer can tell
        it apart from a block-local dictionary by identity."""
        import pyarrow as pa

        if self._entries is None:
            self._entries = (pa.concat_arrays(self.chunks) if self.chunks
                             else pa.array([], type=pa.large_binary()))
        return self._entries
