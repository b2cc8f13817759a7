"""Python UDTFs (Spark 4 user-defined table functions, SURVEY.md §2.10).

The reference has no plug-in surface at all (control() IS the UDF,
task.ts:93-286). The engine exposes every Spark extension point; this
module covers the newest one: UDTFs — per-row table functions usable
from SQL via LATERAL, the API for generative expansions (parse trees,
tokenizations, struct flattening) that scalar UDFs can't express.

Policy note (SCALE.md §8): UDTF eval is per-row Python. For anything a
builtin can express (this bigram demo is posexplode-expressible on
purpose, so the oracle can check it) the builtin wins; real uses are
genuinely generative kernels. Arrow transfer for UDTFs is enabled via
``spark.sql.execution.pythonUDTF.arrow.enabled`` (set in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from ..catalog import sql
from ..registry import spec


@udtf(returnType="pos int, ngram string")
class BigramUDTF:
    """Emit (position, bigram) rows for one document's text."""

    def eval(self, text: str):
        if text is None:
            return
        ws = text.split(" ")
        for i in range(len(ws) - 1):
            yield i, ws[i] + " " + ws[i + 1]


def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL table-function expansion: one row per (doc, bigram)."""
    spark.udtf.register("bigrams", BigramUDTF)
    return sql(spark, sf_dir, """
        SELECT d.doc_id, b.pos, b.ngram
        FROM documents d, LATERAL bigrams(d.text) b
    """)


ORACLE_UDTF_BIGRAMS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       unnest([{'pos': CAST(i AS INTEGER) - 1,
                'ngram': ws[i] || ' ' || ws[i+1]}
               for i in generate_series(1, LEN(ws) - 1)],
              recursive := true)
FROM w
"""


QUERIES = {
    "udtf_bigrams": spec(
        udtf_bigrams, ORACLE_UDTF_BIGRAMS, "beyond",
        doc="Python UDTF via LATERAL (Spark 4 table functions)",
    ),
}
