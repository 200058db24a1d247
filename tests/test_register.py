"""``register(spark)`` parses each return-type DDL string once.

A parse is a py4j round trip into the JVM's DDL parser.  The 222
scalars declare ten distinct strings, so the scalar factory
memoizes the parse for the duration of one registry build, and the
aggregates hand ``arrow_udf`` a ``BinaryType()`` that needs no parse.
"""

from __future__ import annotations

import pyspark.sql.udf as pyspark_udf
from pyspark.sql.types import BinaryType, _parse_datatype_string

import datasketches_spark as dss
from datasketches_spark.functions import scalars


def test_register_parses_each_ddl_once(spark, monkeypatch):
    seen: list[str] = []

    def counting_parse(ddl: str):
        seen.append(ddl)
        return _parse_datatype_string(ddl)

    # the factory's own parse and pyspark's lazy one for string types
    monkeypatch.setattr(scalars, "_parse_datatype_string", counting_parse)
    monkeypatch.setattr(pyspark_udf, "_parse_datatype_string", counting_parse)
    names = dss.register(spark)
    assert len(names) > 250
    assert seen, "the scalar return types were not parsed in this call"
    assert len(seen) == len(set(seen)), sorted(seen)
    # a second call parses again, against its own session
    seen.clear()
    dss.register(spark)
    assert seen and len(seen) == len(set(seen))


def test_memoized_types_equal_fresh_parses(spark, monkeypatch):
    memoized = scalars.build_scalar_registry()

    def fresh_parse(ddl: str):
        return _parse_datatype_string(ddl)

    fresh_parse.cache_clear = lambda: None
    monkeypatch.setattr(scalars, "_ret_type", fresh_parse)
    fresh = scalars.build_scalar_registry()
    assert fresh.keys() == memoized.keys()
    for name, udf in memoized.items():
        assert udf.returnType == fresh[name].returnType, name
    aggregates = dss.build_aggregate_registry()
    assert aggregates
    for name, udf in aggregates.items():
        assert udf.returnType == _parse_datatype_string("binary") == BinaryType(), name
