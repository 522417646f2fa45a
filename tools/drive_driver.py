import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
import __spark_entry__ as e
df = e.entry(spark)
n = df.count()
assert n > 0, "entry returned no rows"
q, o = e.queries(), e.oracle_sql()
assert set(o) <= set(q), "oracle keys not subset of queries"
print("driver sim ok:", n, "rows;", len(q), "queries;", len(o), "oracles")
