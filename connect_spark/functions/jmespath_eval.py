"""`jmespath` processor: JMESPath queries over JSON message content.

Reference: docs/modules/components/pages/processors/jmespath.adoc:26 —
"Executes a JMESPath query on JSON documents and replaces the message
with the resulting document."  Unlike jq (functions/jq.py), a JMESPath
query always yields exactly ONE result (possibly null), so there is no
batch expansion — the UDF is string → string.

Evaluation is Arrow-batched (`boundary.row_udf`): the query compiles
once per executor (lru_cache) and runs over each row; the jmespath
package is pure Python and ships with the container's Python
distribution.  Import is gated so environments without it fail with a
clear message at UDF build time, not mid-job.
"""

from __future__ import annotations

import json
from functools import lru_cache

from connect_spark.boundary import row_udf

try:  # import-try gate (container provides jmespath 1.x)
    import jmespath as _jmespath
except ImportError:  # pragma: no cover
    _jmespath = None


@lru_cache(maxsize=256)
def _compiled(query: str):
    return _jmespath.compile(query)


def jmespath_search(query: str, doc):
    """Evaluate `query` against an already-parsed document (driver-side
    helper for tests and the Bloblang seam)."""
    if _jmespath is None:
        raise RuntimeError("jmespath package not available")
    return _compiled(query).search(doc)


def jmespath_udf(query: str):
    """string JSON column → string JSON column (null on parse/eval
    failure, mirroring the jq UDF's error contract so the pipeline
    processor can flag `_error` and keep the message)."""
    if _jmespath is None:
        raise RuntimeError("jmespath package not available")
    _compiled(query)  # validate driver-side: bad queries fail at build
    # failures → null, flagged upstream
    return row_udf(
        "string",
        lambda v: json.dumps(
            _compiled(query).search(json.loads(v)), separators=(",", ":")
        ),
        (Exception,),
    )
