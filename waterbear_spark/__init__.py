"""waterbear_spark — a PySpark-native analytics engine.

Reimplements the capability surface of databrickslabs/waterbear (a JSON-Schema
-> Spark schema + SQL-expectation compiler with schema-enforced batch/stream
execution patterns) as an idiomatic, scale-first PySpark engine, and extends
it with the relational + LLM-data-pipeline operator set described in
SURVEY.md §2b.

Public API:
    from waterbear_spark import SchemaCompiler, Expectations, RecordGenerator

Python workers need not import this package: it is registered with
pyspark's cloudpickle to be pickled by value, so the functions and
classes that UDFs, ``applyInPandas`` and UDTFs ship to the workers carry
their code with them.
"""

import sys

from pyspark import cloudpickle

from waterbear_spark.schema.compiler import CompiledEntity, SchemaCompiler
from waterbear_spark.quality.expectations import Expectations
from waterbear_spark.generator.records import RecordGenerator
from waterbear_spark.operators.asof import asof_join
from waterbear_spark.operators.diff import table_diff
from waterbear_spark.operators.rangejoin import range_join
from waterbear_spark.operators.skew import salted_agg, salted_join
from waterbear_spark.operators.topk import top_k_per_group

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__version__ = "0.1.0"

__all__ = [
    "SchemaCompiler",
    "CompiledEntity",
    "Expectations",
    "RecordGenerator",
    "asof_join",
    "range_join",
    "table_diff",
    "salted_join",
    "salted_agg",
    "top_k_per_group",
    "__version__",
]
