"""Register all genomic DataSources on a SparkSession."""

from __future__ import annotations

import weakref

from pyspark.sql import SparkSession


def _load() -> dict:
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.sources.bbi import BigBedDataSource, BigWigDataSource
    from oxbow_spark.sources.bcf import BcfDataSource
    from oxbow_spark.sources.cram import CramDataSource
    from oxbow_spark.sources.bed import BedDataSource
    from oxbow_spark.sources.gxf import GffDataSource, GtfDataSource
    from oxbow_spark.sources.sam import SamDataSource
    from oxbow_spark.sources.sequence import FastaDataSource, FastqDataSource
    from oxbow_spark.sources.vcf import VcfDataSource

    return {cls.name(): cls for cls in (
        BedDataSource, GtfDataSource, GffDataSource,
        SamDataSource, VcfDataSource, FastaDataSource, FastqDataSource,
        BamDataSource, BcfDataSource, CramDataSource,
        BigWigDataSource, BigBedDataSource,
    )}


class _LazyMap(dict):
    """format name → DataSource class, populated on first access (keeps
    `import oxbow_spark` free of the full source-module import cost)."""

    def _fill(self):
        if not self:
            self.update(_load())

    def __missing__(self, key):
        self._fill()
        if key not in self:
            raise KeyError(key)
        return dict.__getitem__(self, key)

    def values(self):
        self._fill()
        return dict.values(self)


DATASOURCES = _LazyMap()

#: session → format names registered on it. Spark logs "replaced a
#: previously registered data source" on every repeat register, and
#: ``to_spark`` runs once per region query.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = (
    weakref.WeakKeyDictionary())


def register(spark: SparkSession, name: str) -> None:
    """Register the ``name`` format's DataSource on ``spark``, once per
    session."""
    done = _REGISTERED.setdefault(spark, set())
    if name not in done:
        spark.dataSource.register(DATASOURCES[name])
        done.add(name)


def register_all(spark: SparkSession) -> None:
    for src in DATASOURCES.values():
        register(spark, src.name())
