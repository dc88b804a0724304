"""Sequencer source: generate rows from a regex-like pattern.

Re-implements the reference's pattern language (WarpCore/Sources/
Sequencer.swift:18-62; step at Warp/Sources/Model/Steps/
QBESequencerStep.swift:27-177):

- ``ab``     — concatenation (``["ab"]``)
- ``a|b``    — alternation (``["a", "b"]``)
- ``a?``     — the full preceding component or nothing (``["a", ""]``)
- ``[abc]``  — character set; ``[a-z]`` ranges inclusive
- ``(a)``    — subsequence grouping
- ``x{n}``   — repeat the preceding component n times (cross product)
- escapes    — ``\\[`` etc. for reserved chars; ``\\t \\n \\r "\\ "``

Scale design: every node supports O(depth) ``cardinality`` and
``nth(i)`` (mixed-radix decode), so a sequence of N values generates
distributedly as ``spark.range(N)`` + an Arrow-batched decode of each
partition's own index range — no driver-side enumeration, no shuffle.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

RESERVED = "[]()-\\'|?{}"
SPECIAL = {"t": "\t", "n": "\n", "r": "\r", " ": " "}


class SequencerError(ValueError):
    pass


# ---------------------------------------------------------------------------
# AST — each node: cardinality + nth(i) mixed-radix decode
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class _Node:
    def cardinality(self) -> int:
        raise NotImplementedError

    def nth(self, i: int) -> str:
        raise NotImplementedError


@dataclass(frozen=True)
class _Str(_Node):
    s: str

    def cardinality(self) -> int:
        return 1

    def nth(self, i: int) -> str:
        return self.s


@dataclass(frozen=True)
class _CharSet(_Node):
    values: tuple

    def cardinality(self) -> int:
        return len(self.values)

    def nth(self, i: int) -> str:
        return self.values[i]


@dataclass(frozen=True)
class _Maybe(_Node):
    inner: _Node

    def cardinality(self) -> int:
        return self.inner.cardinality() + 1

    def nth(self, i: int) -> str:
        c = self.inner.cardinality()
        return self.inner.nth(i) if i < c else ""


@dataclass(frozen=True)
class _Concat(_Node):
    left: _Node
    right: _Node

    def cardinality(self) -> int:
        return self.left.cardinality() * self.right.cardinality()

    def nth(self, i: int) -> str:
        rc = self.right.cardinality()
        return self.left.nth(i // rc) + self.right.nth(i % rc)


@dataclass(frozen=True)
class _Alt(_Node):
    first: _Node
    then: _Node

    def cardinality(self) -> int:
        return self.first.cardinality() + self.then.cardinality()

    def nth(self, i: int) -> str:
        fc = self.first.cardinality()
        return self.first.nth(i) if i < fc else self.then.nth(i - fc)


@dataclass(frozen=True)
class _Repeat(_Node):
    inner: _Node
    n: int

    def cardinality(self) -> int:
        return self.inner.cardinality() ** self.n

    def nth(self, i: int) -> str:
        c = self.inner.cardinality()
        out = []
        for _ in range(self.n):
            out.append(self.inner.nth(i % c))
            i //= c
        return "".join(reversed(out))


# ---------------------------------------------------------------------------
# Parser (grammar mirror of Sequencer.swift:43-64)
# ---------------------------------------------------------------------------

class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def error(self, msg: str):
        raise SequencerError(f"{msg} at position {self.pos} in {self.text!r}")

    def peek(self) -> Optional[str]:
        return self.text[self.pos] if self.pos < len(self.text) else None

    def _escape(self) -> Optional[str]:
        """Parse one escaped char at pos (after the backslash)."""
        ch = self.peek()
        if ch is None:
            self.error("dangling escape")
        if ch in RESERVED:
            self.pos += 1
            return ch
        if ch in SPECIAL:
            self.pos += 1
            return SPECIAL[ch]
        self.error(f"invalid escape \\{ch}")

    def alternatives(self) -> _Node:
        node = self.following()
        while self.peek() == "|":
            self.pos += 1
            node = _Alt(node, self.following())
        return node

    def following(self) -> _Node:
        node = self.repeat()
        while True:
            ch = self.peek()
            if ch is None or ch in "|)":
                return node
            node = _Concat(node, self.repeat())

    def repeat(self) -> _Node:
        node = self.maybe()
        if self.peek() == "{":
            self.pos += 1
            start = self.pos
            while self.peek() is not None and self.peek().isdigit():
                self.pos += 1
            if self.pos == start or self.peek() != "}":
                self.error("expected {number}")
            n = int(self.text[start:self.pos])
            self.pos += 1
            node = _Repeat(node, n)
        return node

    def maybe(self) -> _Node:
        node = self.component()
        if self.peek() == "?":
            self.pos += 1
            node = _Maybe(node)
        return node

    def component(self) -> _Node:
        ch = self.peek()
        if ch is None:
            self.error("expected a component")
        if ch == "(":
            self.pos += 1
            node = self.alternatives()
            if self.peek() != ")":
                self.error("expected ')'")
            self.pos += 1
            return node
        if ch == "[":
            return self.charset()
        return self.string()

    def charset(self) -> _Node:
        if self.peek() != "[":
            self.error("expected '['")
        self.pos += 1
        values: list[str] = []
        while True:
            ch = self.peek()
            if ch is None:
                self.error("unterminated charset")
            if ch == "]":
                self.pos += 1
                if not values:
                    self.error("empty charset")
                return _CharSet(tuple(values))
            if ch == "\\":
                self.pos += 1
                values.append(self._escape())
                continue
            if ch in RESERVED:
                self.error(f"reserved character {ch!r} in charset")
            # range a-z ?
            if (
                self.pos + 2 < len(self.text)
                and self.text[self.pos + 1] == "-"
                and self.text[self.pos + 2] not in RESERVED
            ):
                lo, hi = ord(ch), ord(self.text[self.pos + 2])
                if hi < lo:
                    self.error("descending character range")
                values.extend(chr(c) for c in range(lo, hi + 1))
                self.pos += 3
                continue
            values.append(ch)
            self.pos += 1

    def string(self) -> _Node:
        out = []
        while True:
            ch = self.peek()
            if ch is None or (ch in RESERVED and ch != "\\"):
                break
            if ch == "\\":
                self.pos += 1
                out.append(self._escape())
            else:
                out.append(ch)
                self.pos += 1
        if not out:
            self.error("expected characters")
        return _Str("".join(out))


def parse(pattern: str) -> _Node:
    if not pattern:
        raise SequencerError("empty pattern")
    p = _Parser(pattern)
    node = p.alternatives()
    if p.pos != len(pattern):
        p.error("unexpected trailing input")
    return node


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

def cardinality(pattern: str) -> int:
    return parse(pattern).cardinality()


def nth_value(pattern: str, i: int) -> str:
    return parse(pattern).nth(i)


def values(pattern: str) -> Iterator[str]:
    node = parse(pattern)
    return (node.nth(i) for i in range(node.cardinality()))


def random_draw(pattern: str, rng: Optional[random.Random] = None) -> str:
    node = parse(pattern)
    r = rng or random
    return node.nth(r.randrange(node.cardinality()))


def sequencer_dataframe(
    spark: SparkSession,
    pattern: str,
    column: str = "value",
    max_cardinality: int = 100_000_000,
) -> DataFrame:
    """Full enumeration of the pattern as a single-column DataFrame.

    Distributed: ``spark.range(N)`` partitions the index space across
    executors; each partition decodes only its own indices (Arrow-batched
    pandas UDF), so no driver-side enumeration and no shuffle. The
    reference enumerates the same cross-product lazily on one node
    (Sequencer.swift:122-496)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    node = parse(pattern)
    n = node.cardinality()
    if n > max_cardinality:
        raise SequencerError(
            f"pattern cardinality {n} exceeds max_cardinality={max_cardinality}"
        )

    decode = F.pandas_udf(lambda idx: idx.map(node.nth), T.StringType())
    # Partition the index space at ~64Ki values per partition (capped at the
    # cluster's default parallelism): each partition spins up one Python
    # worker, so 32 partitions for a 50-value pattern would pay 32 worker
    # startups for 2-row batches.
    per_part = 65_536
    parallelism = spark.sparkContext.defaultParallelism
    num_parts = max(1, min((n + per_part - 1) // per_part, parallelism * 4))
    return spark.range(0, n, numPartitions=num_parts).select(decode(F.col("id")).alias(column))
