"""Iceberg catalog recorded-call doubles: exercise the writeTo DSL without
the Iceberg runtime jar. Only the Py4J surface itself stays untested
without that jar."""

from __future__ import annotations


class _FakeWriterV2:
    def __init__(self, log):
        self.log = log

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", tuple(str(c) for c in cols)))
        return self

    def createOrReplace(self):
        self.log.append(("createOrReplace",))


class _FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, ident):
        self.log.append(("writeTo", ident))
        return _FakeWriterV2(self.log)


class _FakeReader:
    def __init__(self, log):
        self.log = log

    def table(self, ident):
        self.log.append(("read.table", ident))
        return "df-sentinel"


class _FakeCatalogAPI:
    def __init__(self, log):
        self.log = log

    def tableExists(self, ident):
        self.log.append(("tableExists", ident))
        return True


class _FakeSpark:
    def __init__(self):
        self.log = []
        self.read = _FakeReader(self.log)
        self.catalog = _FakeCatalogAPI(self.log)

    def sql(self, q):
        self.log.append(("sql", q))


def test_iceberg_catalog_write_records_exact_dsl_chain(spark):
    # spark fixture: IcebergCatalog.write builds F.col partition columns,
    # which needs an active session even against the call double
    from liken_spark.sources.catalog import IcebergCatalog

    fake = _FakeSpark()
    cat = IcebergCatalog(fake, "lake", namespace="liken")
    cat.write("clips", _FakeDF(fake.log), partition_by=["lang"])
    assert fake.log[0] == ("sql", "CREATE NAMESPACE IF NOT EXISTS lake.liken")
    assert fake.log[1] == ("writeTo", "lake.liken.clips")
    assert fake.log[2][0] == "partitionedBy" and "lang" in fake.log[2][1][0]
    assert fake.log[3] == ("createOrReplace",)


def test_iceberg_catalog_write_unpartitioned_skips_partitionedBy():
    from liken_spark.sources.catalog import IcebergCatalog

    fake = _FakeSpark()
    IcebergCatalog(fake, "lake").write("t", _FakeDF(fake.log))
    assert [e[0] for e in fake.log] == ["sql", "writeTo", "createOrReplace"]


def test_iceberg_catalog_read_and_exists_identifiers():
    from liken_spark.sources.catalog import IcebergCatalog

    fake = _FakeSpark()
    cat = IcebergCatalog(fake, "lake", namespace="ns")
    assert cat.read("t") == "df-sentinel"
    assert cat.exists("t") is True
    assert ("read.table", "lake.ns.t") in fake.log
    assert ("tableExists", "lake.ns.t") in fake.log


def test_resolve_catalog_picks_iceberg_when_catalog_conf_set():
    from liken_spark.sources.catalog import IcebergCatalog, resolve_catalog

    class _Conf:
        def get(self, key, default=None):
            assert key == "spark.sql.catalog.lake"
            return "org.apache.iceberg.spark.SparkCatalog"

    class _SparkWithConf(_FakeSpark):
        conf = _Conf()

    cat = resolve_catalog(_SparkWithConf(), "lake")
    assert isinstance(cat, IcebergCatalog)
    assert cat.catalog == "lake"
