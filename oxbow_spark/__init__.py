"""oxbow_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of abdenlab/oxbow (reference: /root/reference).

Not a port: the reference is a Rust/Arrow genomic I/O engine whose relational
work is delegated to downstream engines (reference
`docs/getting-started/why.md:15-19`). Here both layers are Spark-first:

- ``oxbow_spark.sources``   — Python DataSource readers for genomic formats
  (SAM/BAM, VCF, BED, GTF/GFF, FASTA/FASTQ, bedGraph ...), emitting Arrow
  batches with header-derived schemas, column pruning and genomic-range
  predicate pushdown.
- ``oxbow_spark.coords``    — coordinate systems + region grammar
  (reference `oxbow/src/coords.rs`).
- ``oxbow_spark.operators`` — the relational layer the reference delegates:
  interval-overlap join, zoom/binned aggregation, dedup (exact, MinHash-LSH,
  SimHash, n-gram Jaccard), similarity search, text analysis — all expressed
  as Catalyst-optimizable DataFrame ops designed for 100 TB scale.
- ``oxbow_spark.functions`` — scalar genomic expressions (CIGAR, flags,
  Phred, genotype parsing) built from pyspark.sql.functions, JVM-side.
"""

__version__ = "0.1.0"

# Every worker that unpickles a kernel, DataSource or writer of this package
# runs this __init__ first: the zipimport guard patches the worker process
# there (and never the driver; see _worker_env).
from oxbow_spark import _worker_env  # noqa: E402,F401

# py-oxbow-compatible public surface (reference
# `py-oxbow/oxbow/__init__.py:49-77`): twelve lazy `from_*` constructors and
# twelve one-shot Arrow-IPC `read_*` functions, plus the Spark-native
# materializer each file handle adds (`.to_spark(spark)`).
from oxbow_spark.api import (  # noqa: E402
    from_bam,
    from_bcf,
    from_bed,
    from_bigbed,
    from_bigwig,
    from_cram,
    from_fasta,
    from_fastq,
    from_gff,
    from_gtf,
    from_sam,
    from_vcf,
    idxstats,
    read_bam,
    read_bcf,
    read_bed,
    read_bigbed,
    read_bigwig,
    read_cram,
    read_fasta,
    read_fastq,
    read_gff,
    read_gtf,
    read_sam,
    read_vcf,
)

__all__ = [
    "__version__",
    "from_bam",
    "from_bcf",
    "from_bed",
    "from_bigbed",
    "from_bigwig",
    "from_cram",
    "from_fasta",
    "from_fastq",
    "from_gff",
    "from_gtf",
    "from_sam",
    "from_vcf",
    "read_fasta",
    "read_fastq",
    "read_sam",
    "read_bam",
    "read_cram",
    "read_bcf",
    "read_vcf",
    "read_bed",
    "read_bigbed",
    "read_bigwig",
    "read_gff",
    "read_gtf",
    "idxstats",
]
