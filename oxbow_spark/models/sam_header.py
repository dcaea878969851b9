"""SAM/BAM header model + alignment record schema.

Parity targets (`oxbow/src/alignment/model/field.rs:17-76`,
`alignment/model/tag.rs:79-165`, header use `alignment/scanner/bam.rs:74-89`):

- 12 standard fields: qname flag rname pos mapq cigar rnext pnext tlen seq
  qual end. Types per SURVEY §1.3 (flag UInt16→int, mapq UInt8→smallint,
  pos/pnext/tlen/end Int32, rname/rnext dict→string).
- ``tags``: struct column; tag defs user-supplied or scanned from the
  first N records. All integer tag codes widen to Int64; f→Float32;
  A/Z/H→Utf8; B-arrays → List<Int64> / List<Float32>.
- Header gives reference names/lengths (``chrom_names`` / ``chrom_sizes``)
  and seeds the rname dictionary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

STANDARD_FIELDS: list[tuple[str, T.DataType]] = [
    ("qname", T.StringType()),
    ("flag", T.IntegerType()),
    ("rname", T.StringType()),
    ("pos", T.IntegerType()),
    ("mapq", T.ShortType()),
    ("cigar", T.StringType()),
    ("rnext", T.StringType()),
    ("pnext", T.IntegerType()),
    ("tlen", T.IntegerType()),
    ("seq", T.StringType()),
    ("qual", T.StringType()),
    ("end", T.IntegerType()),
]
STANDARD_FIELD_NAMES = [n for n, _ in STANDARD_FIELDS]

# SAM tag type code → Spark type (ints widened, reference
# `alignment/model/tag.rs:124-165`)
TAG_TYPES: dict[str, T.DataType] = {
    "A": T.StringType(),
    "Z": T.StringType(),
    "H": T.StringType(),
    "c": T.LongType(), "C": T.LongType(), "s": T.LongType(),
    "S": T.LongType(), "i": T.LongType(), "I": T.LongType(),
    "f": T.FloatType(),
    "Bc": T.ArrayType(T.LongType()), "BC": T.ArrayType(T.LongType()),
    "Bs": T.ArrayType(T.LongType()), "BS": T.ArrayType(T.LongType()),
    "Bi": T.ArrayType(T.LongType()), "BI": T.ArrayType(T.LongType()),
    "Bf": T.ArrayType(T.FloatType()),
}


@dataclass(frozen=True)
class TagDef:
    name: str
    code: str  # one of TAG_TYPES keys

    @property
    def spark_type(self) -> T.DataType:
        return TAG_TYPES[self.code]

    def parse(self, code: str, raw):
        """Parse a tag value: SAM text (``B`` arrays as ``"C,1,2"``) or
        one decoded from BAM/CRAM (``BC`` arrays as ``[1, 2]``).
        Mismatched types fall back to the raw string when this def is a
        String sink (reference `alignment/model/tag.rs:230-234,340-386`),
        else None."""
        try:
            if self.code in ("A", "Z", "H"):
                return raw
            if code == "f" and self.code == "f":
                return float(raw)
            if code == "i" and self.code in "cCsSiI":
                return int(raw)
            if code.startswith("B") and self.code.startswith("B"):
                if isinstance(raw, list):
                    sub, vals = code[1:], raw
                else:
                    sub, *vals = raw.split(",")
                if sub == "f" and self.code == "Bf":
                    return [float(v) for v in vals]
                if sub != "f" and self.code != "Bf":
                    return [int(v) for v in vals]
                return None
            # type mismatch: string defs absorb anything
            return raw if isinstance(self.spark_type, T.StringType) else None
        except ValueError:
            return None


def tags_struct(defs: list[TagDef]) -> T.StructType:
    return T.StructType([T.StructField(d.name, d.spark_type, True) for d in defs])


def split_sam_tag(field_str: str) -> tuple[str, str, str]:
    """'NM:i:3' → ('NM', 'i', '3') (B tags keep subtype in the value)."""
    name, code, raw = field_str.split(":", 2)
    return name, code, raw


def scan_tag_defs(records: list[str], scan_rows: int = 1024) -> list[TagDef]:
    """Discover (tag, type) pairs from SAM text records, first-seen order —
    analog of ``tag_defs(scan_rows)`` (`alignment/scanner/bam.rs:122-149`)."""
    order: list[str] = []
    codes: dict[str, str] = {}
    for line in records[:scan_rows]:
        cols = line.rstrip("\n").split("\t")
        for f in cols[11:]:
            try:
                name, code, raw = split_sam_tag(f)
            except ValueError:
                continue
            if code == "B":
                code = "B" + raw.split(",", 1)[0]
            if name not in codes:
                order.append(name)
                codes[name] = code if code in TAG_TYPES else "Z"
    return [TagDef(n, codes[n]) for n in order]


@dataclass
class SamHeader:
    """Parsed @-header: reference sequence names/lengths + raw lines."""

    chrom_names: list[str] = field(default_factory=list)
    chrom_sizes: dict[str, int] = field(default_factory=dict)
    read_groups: list[str] = field(default_factory=list)
    lines: list[str] = field(default_factory=list)

    @classmethod
    def parse(cls, header_lines: list[str]) -> "SamHeader":
        h = cls()
        for line in header_lines:
            line = line.rstrip("\n")
            h.lines.append(line)
            if line.startswith("@SQ"):
                name, length = None, None
                for f in line.split("\t")[1:]:
                    if f.startswith("SN:"):
                        name = f[3:]
                    elif f.startswith("LN:"):
                        length = int(f[3:])
                if name is not None:
                    h.chrom_names.append(name)
                    h.chrom_sizes[name] = length or 0
            elif line.startswith("@RG"):
                for f in line.split("\t")[1:]:
                    if f.startswith("ID:"):
                        h.read_groups.append(f[3:])
        return h


# CIGAR ops that consume reference bases (for the computed `end` column,
# reference `alignment/model/field.rs:280-286`)
_REF_CONSUMING = set("MDN=X")


def cigar_reference_length(cigar: str) -> int | None:
    """Reference-consumed length of a CIGAR string; None for '*' / empty."""
    if not cigar or cigar == "*":
        return None
    total = 0
    num = 0
    for ch in cigar:
        if ch.isdigit():
            num = num * 10 + ord(ch) - 48
        else:
            if ch in _REF_CONSUMING:
                total += num
            num = 0
    return total


def alignment_end(pos: int | None, cigar: str | None) -> int | None:
    """1-based inclusive end = pos + reflen - 1 (None when unmapped)."""
    if pos is None or cigar is None:
        return None
    reflen = cigar_reference_length(cigar)
    if reflen is None or reflen == 0:
        return None
    return pos + reflen - 1
