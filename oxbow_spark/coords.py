"""Genomic coordinate systems and region grammar.

Behavioral parity with the reference's coordinate module
(`oxbow/src/coords.rs:16-297`, docs `docs/user-guide/coordinate-systems.md`):

- Two coordinate systems, named by the base of the start coordinate:
  ``"11"`` (1-based closed; SAM/VCF/GFF native) and ``"01"`` (0-based
  half-open; BED/BBI native). Only *start* coordinates differ between the
  two; end coordinates are numerically identical. Conversion is an
  additive ±1 on starts.
- Internal canonical form is always 0-based half-open ``[start, end)``.
- Region strings parse as UCSC ``name[:start[-end]]`` (ambiguous — needs a
  coord system; ``,``/``_`` thousands separators stripped) or as
  self-describing bracket notation ``name:[start,end)`` (0-based
  half-open) / ``name:[start,end]`` (1-based closed).
- ``"*"`` selects unmapped records (alignment formats).

Spark-side, coordinate conversion is a column expression (±1 on start
columns) applied either inside a DataSource reader (reader option
``coords``) or post-hoc with :func:`convert_starts` — both stay inside
whole-stage codegen.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ONE_BASED_CLOSED = "11"
ZERO_BASED_HALF_OPEN = "01"
_VALID = (ONE_BASED_CLOSED, ZERO_BASED_HALF_OPEN)

UNMAPPED = "*"


def validate_coord_system(cs: str) -> str:
    if cs not in _VALID:
        raise ValueError(f"invalid coordinate system {cs!r}; expected '01' or '11'")
    return cs


def start_offset(source_cs: str, target_cs: str) -> int:
    """Additive offset converting a *start* coordinate source→target.

    '11'→'01' is -1; '01'→'11' is +1; identity is 0. End coordinates
    never shift (reference `coords.rs:24-38`).
    """
    validate_coord_system(source_cs)
    validate_coord_system(target_cs)
    if source_cs == target_cs:
        return 0
    return -1 if source_cs == ONE_BASED_CLOSED else 1


_NUM_SEP = re.compile(r"[,_]")


def _parse_number(s: str) -> int:
    cleaned = _NUM_SEP.sub("", s)
    if not cleaned.isdigit():
        raise ValueError(f"invalid number: {s!r}")
    return int(cleaned)


class Region(NamedTuple):
    """A query region; coordinates stored 0-based half-open.

    ``end is None`` means "to the end of the sequence"; ``name == '*'``
    selects unmapped records. A tuple, so partitions ship it compactly
    and print it as one (just ``('*',)`` for the unmapped selector).
    """

    name: str
    start: int = 0
    end: int | None = None

    def __repr__(self) -> str:
        return repr((self.name,) if self.is_unmapped else tuple(self))

    @property
    def is_unmapped(self) -> bool:
        return self.name == UNMAPPED

    @classmethod
    def parse(cls, s: str, coord_system: str = ONE_BASED_CLOSED) -> "Region":
        """Parse UCSC or bracket notation; bracket overrides coord_system."""
        validate_coord_system(coord_system)
        if not s:
            raise ValueError("empty region string")
        bracket = cls._try_parse_bracket(s)
        if bracket is not None:
            return bracket
        name, sep, interval = s.rpartition(":")
        if not sep:
            name, interval = s, ""
        if not name:
            raise ValueError(f"empty reference name in {s!r}")
        if not interval:
            return cls(name)
        lo, dash, hi = interval.partition("-")
        start = _parse_number(lo)
        end = _parse_number(hi) if dash and hi else None
        if coord_system == ONE_BASED_CLOSED:
            start = max(start - 1, 0)  # 1-based → 0-based; end is numerically equal
        return cls(name, start, end)

    @classmethod
    def _try_parse_bracket(cls, s: str) -> "Region | None":
        name, sep, rest = s.rpartition(":")
        if not sep or not rest.startswith("["):
            return None
        if rest.endswith(")"):
            half_open = True
        elif rest.endswith("]"):
            half_open = False
        else:
            raise ValueError(f"bracket notation must end with ')' or ']': {s!r}")
        body = rest[1:-1].replace("_", "")
        lo, comma, hi = body.partition(",")
        if not comma:
            raise ValueError(f"bracket notation requires 'start,end': {s!r}")
        start, end = int(lo), int(hi)
        if not half_open:
            start = max(start - 1, 0)  # 1-based closed → 0-based half-open
        return cls(name, start, end)

    def to_1based_closed(self) -> tuple[str, int, int | None]:
        """(name, start, end) in 1-based inclusive form, for index queries
        (analog of the reference's ``to_noodles``, `coords.rs:248-266`)."""
        return (self.name, self.start + 1, self.end)

    def overlaps(self, start: int, end: int) -> bool:
        """Half-open interval overlap of one record, the scalar form of
        :func:`region_mask`."""
        if self.end is not None and start >= self.end:
            return False
        return end > self.start

    def __str__(self) -> str:
        if self.start == 0 and self.end is None:
            return self.name
        if self.end is None:
            return f"{self.name}:[{self.start},)"
        return f"{self.name}:[{self.start},{self.end})"


def parse_regions(regions: str | list[str] | None, coord_system: str = ONE_BASED_CLOSED) -> list[Region]:
    """Parse a region list; a plain string splits on ';' (the reader-option
    encoding for multiple query regions)."""
    if regions is None:
        return []
    if isinstance(regions, str):
        regions = [r for r in regions.split(";") if r.strip()]
    return [Region.parse(r.strip(), coord_system) for r in regions]


def merge_regions(regions: list[Region]) -> list[Region]:
    """Normalize a multi-region query for scan planning: dedupe unmapped
    selectors and coalesce overlapping/adjacent same-name intervals.

    Multi-region scans plan partitions per region (the reference's
    scan_query is single-region, `oxbow/src/alignment/scanner/mod.rs`), so
    without this a record overlapping two requested regions — or two
    regions sharing an index chunk — would be emitted once per match.
    Union semantics are preserved: a record overlaps some input region iff
    it overlaps some merged region.
    """
    unmapped = any(r.is_unmapped for r in regions)
    by_name: dict[str, list[Region]] = {}
    for r in regions:
        if not r.is_unmapped:
            by_name.setdefault(r.name, []).append(r)
    out: list[Region] = []
    for name, rs in by_name.items():  # preserves first-seen name order
        rs = sorted(rs, key=lambda r: r.start)
        cs, ce = rs[0].start, rs[0].end
        for r in rs[1:]:
            if ce is None or r.start <= ce:
                ce = None if (ce is None or r.end is None) else max(ce, r.end)
            else:
                out.append(Region(name, cs, ce))
                cs, ce = r.start, r.end
        out.append(Region(name, cs, ce))
    if unmapped:
        out.append(Region(UNMAPPED))
    return out


def _int_column(values) -> pa.Array:
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        return pa.array(values, pa.int64())
    return values.cast(pa.int64())


def region_mask(regions, chrom, start0, end0) -> np.ndarray:
    """Which records overlap some region of ``regions`` (pre-merged,
    :func:`merge_regions`): the one residual check every reader applies
    after its index query (reference `batch_iterator/query.rs:142-159`),
    over a whole batch at once.

    ``chrom``, ``start0`` and ``end0`` are equal-length arrays of 0-based
    half-open record intervals (Arrow, numpy or lists; Arrow nulls or
    None for missing). A null ``chrom`` matches only ``*``; a null start
    matches no named region; a null end means ``start0 + 1``. Each record
    is checked against the whole union once, so a record overlapping two
    regions is kept once."""
    if isinstance(chrom, pa.ChunkedArray):
        chrom = chrom.combine_chunks()
    elif not isinstance(chrom, pa.Array):
        chrom = pa.array(chrom, pa.string())
    start0 = _int_column(start0)
    end0 = pc.coalesce(_int_column(end0), pc.add(start0, 1))
    hit = pa.array(np.zeros(len(chrom), dtype=bool))
    for r in regions:
        if r.is_unmapped:
            m = pc.is_null(chrom)
        else:
            m = pc.and_(pc.equal(chrom, r.name), pc.greater(end0, r.start))
            m = pc.and_(m, pc.is_valid(start0) if r.end is None
                        else pc.less(start0, r.end))
        hit = pc.or_(hit, pc.fill_null(m, False))
    return hit.to_numpy(zero_copy_only=False)


# ----------------------------------------------------------------- Spark side

def convert_start_col(col: Column | str, source_cs: str, target_cs: str) -> Column:
    """Column expression shifting a start coordinate between systems."""
    c = F.col(col) if isinstance(col, str) else col
    off = start_offset(source_cs, target_cs)
    return c if off == 0 else c + F.lit(off)


def convert_starts(
    df: DataFrame, start_cols: list[str], source_cs: str, target_cs: str
) -> DataFrame:
    """Shift the given start columns source→target coord system.

    End columns are intentionally not an argument: they never shift
    (reference `coords.rs` module docs; builders apply the offset only to
    ``pos``/``pnext``/``start``, `alignment/model/batch.rs:60-73`).
    """
    off = start_offset(source_cs, target_cs)
    if off == 0:
        return df
    out = df
    for c in start_cols:
        out = out.withColumn(c, F.col(c) + F.lit(off))
    return out
