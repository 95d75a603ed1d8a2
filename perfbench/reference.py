"""Plain-Python reference outputs and the per-document digest used to
compare them with the engine's Spark output.

The reference converts each document with the engine's fused mode
function and ``typo.check`` only, in plain Python, following the job's
span semantics: spans in offset order, each maximal run of
``kind='text'`` spans converted as one ``\\n``-joined unit, every other
span passed through, offsets re-densified.  None of the job's run
assembly, Arrow transfer or write code takes part.

Both sides are reduced to one digest per document that Spark and Python
compute identically: the md5 of the span (and finding) fields joined
with control separators.  A comparison then needs one small collect.
"""

from __future__ import annotations

import hashlib

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
FINDING_FIELDS = ("id", "message", "match", "index", "context")
_FIELD_SEP, _ITEM_SEP = "\x1f", "\x1e"


def convert_docs(docs: list[dict], mode: str) -> list[tuple]:
    """Reference output rows ``(doc_id, spans, findings)``."""
    from patent_decision_document_converter_spark.functions import typo
    from patent_decision_document_converter_spark.plans.registry import mode_fn

    fn = mode_fn(mode)
    emit_findings = mode not in ("paragraph", "html")
    rows = []
    for d in docs:
        out, findings, run = [], [], []

        def flush():
            if not run:
                return
            text = "\n".join(run)
            out.append(["text", fn(text), ""])
            if emit_findings:
                res = typo.check(text)
                if res["hasError"]:
                    findings.extend(
                        (it["id"], it["message"], it["match"], it["index"], it["context"])
                        for it in res["items"]
                    )
            run.clear()

        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                run.append(s["text"])
            else:
                flush()
                out.append([s["kind"], s["text"], s["media_ref"]])
        flush()
        spans = [(k, t, m, i) for i, (k, t, m) in enumerate(out)]
        rows.append((d["doc_id"], spans, findings))
    return rows


def _col_digest(col: str, fields: tuple):
    from pyspark.sql import functions as F

    items = F.transform(
        col, lambda x: F.concat_ws(_FIELD_SEP, *[x[f].cast("string") for f in fields])
    )
    return F.md5(F.concat_ws(_ITEM_SEP, items))


def _py_digest(items) -> str:
    joined = _ITEM_SEP.join(_FIELD_SEP.join(str(v) for v in it) for it in items)
    return hashlib.md5(joined.encode("utf-8")).hexdigest()


def digests(df) -> dict[str, tuple]:
    """doc_id -> (spans digest, findings digest, n_spans_out) of engine output."""
    from pyspark.sql import functions as F

    return {
        r[0]: (r[1], r[2], r[3])
        for r in df.select(
            "doc_id",
            _col_digest("spans", SPAN_FIELDS),
            _col_digest("findings", FINDING_FIELDS),
            F.col("n_spans_out").cast("int"),
        ).collect()
    }


def reference_digests(spark, docs: list[dict], mode: str) -> dict[str, tuple]:
    """The same digests of the reference output.  The conversion is plain
    Python per document; Spark only spreads the documents over the Python
    workers (pickled RDD partitions, not the engine's Arrow path)."""

    def run(part):
        for doc_id, spans, findings in convert_docs(list(part), mode):
            yield doc_id, (_py_digest(spans), _py_digest(findings), len(spans))

    n = 4 * spark.sparkContext.defaultParallelism
    return dict(spark.sparkContext.parallelize(docs, n).mapPartitions(run).collect())
