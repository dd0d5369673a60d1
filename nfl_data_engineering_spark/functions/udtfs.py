"""Python UDTFs — the table-function surface for flatteners that don't fit
``explode`` (SURVEY.md §2.8).

Everything the reference flattens IS expressible with explode (and the
engine does so — sources/rest_json.py), so UDTFs are the escape hatch, not
the hot path: use them when one input row expands into a variable number of
computed rows with imperative logic. The example here expands a
season-record string into one row per game outcome — the T3 record split
(team_rankings_scraper.py:48-82) reshaped as a generator.

Register with ``spark.udtf.register("expand_record", ExpandRecord)`` or call
inline: ``ExpandRecord(lit("3-1-1"))``.
"""

from __future__ import annotations

import re

from pyspark.sql.functions import udtf

from ..operators.records import RECORD_RE

_RECORD_RE = re.compile(RECORD_RE)


@udtf(returnType="outcome string, n int")
class ExpandRecord:
    """'3-1-1' -> (win, 3), (loss, 1), (tie, 1); unparseable -> no rows.

    A UDTF (not explode) because the expansion is computed row-count from
    imperative parsing — the pattern for flatteners Spark's builtins can't
    express.
    """

    def eval(self, record: str):
        if record is None:
            return
        m = _RECORD_RE.match(record)
        if not m:
            return
        wins, losses, ties = (int(m.group(1)), int(m.group(2)),
                              int(m.group(3) or 0))
        for outcome, n in (("win", wins), ("loss", losses), ("tie", ties)):
            if n > 0:
                yield outcome, n


# ---------------------------------------------------------------------------
# Polymorphic UDTF: output schema computed by analyze() from the call site
# ---------------------------------------------------------------------------

class FirstTokens:
    """Dynamic-schema table function: ``first_tokens(text, n)`` emits one
    row with columns tok_1..tok_n (the first n whitespace tokens, NULL-
    padded). The schema is not declared — ``analyze`` derives it from the
    constant ``n`` argument at plan time, the Spark 4 polymorphic-UDTF
    contract (AnalyzeResult), which a fixed ``returnType`` cannot
    express. eval stays a row-local generator like ExpandRecord."""

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult
        if n.value is None or not isinstance(n.value, int) or n.value < 1:
            raise ValueError("first_tokens requires a constant positive n")
        st = StructType()
        for i in range(n.value):
            st = st.add(f"tok_{i + 1}", StringType())
        return AnalyzeResult(st)

    def eval(self, text: str, n: int):
        toks = (text or "").split()
        yield tuple(toks[i] if i < len(toks) else None for i in range(n))


FirstTokensUdtf = udtf(FirstTokens)
