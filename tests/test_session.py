"""``session.release_cached`` empties the block manager without paying
PySpark's Java-exception conversion."""

from __future__ import annotations

from pyspark.errors.exceptions import captured

from sycl_mapreduce_cpu_gpu_hybrid_spark.session import release_cached


def test_release_cached_converts_no_exception(spark, monkeypatch):
    calls = []
    convert = captured.convert_exception

    def counting(e):
        calls.append(e)
        return convert(e)

    monkeypatch.setattr(captured, "convert_exception", counting)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    release_cached(spark)  # nothing persisted
    rdd = spark.sparkContext.parallelize(range(10)).persist()
    assert rdd.count() == 10
    assert persistent().containsKey(rdd.id())
    release_cached(spark)
    assert not persistent().containsKey(rdd.id())
    assert calls == []
