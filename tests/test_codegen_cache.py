"""Codegen cache guard: with ``get_spark``'s codegen defaults a repeat
pass of the 18 bench queries compiles no new class. At Spark's default
of 100 cache entries every pass evicted and recompiled about 200 of
them, and with the codegen stage id in class names repeat runs of
multi-stage queries recompiled the stages AQE renumbered."""

import bench

import __spark_entry__ as entrymod
from batch_process_spark.session import CODEGEN_CACHE_ENTRIES, codegen_counters

SF = "/root/testdata/sf0.001"


def test_session_keeps_the_codegen_defaults(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_second_bench_pass_compiles_no_class(spark):
    qs = entrymod.queries()

    def bench_pass() -> dict[str, int]:
        compiled = {}
        for name in bench.BENCH_QUERIES:
            before = codegen_counters(spark)
            qs[name](spark, SF).write.format("noop").mode("overwrite").save()
            compiled[name] = codegen_counters(spark).since(before)[0]
        return compiled

    bench_pass()
    second = bench_pass()
    assert codegen_counters(spark).classes > 0  # the reading is live
    assert {n: c for n, c in second.items() if c} == {}
