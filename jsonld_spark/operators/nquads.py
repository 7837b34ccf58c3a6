"""N-Quads serialization as JVM-side column expressions.

Golden-file comparison and N-Quads export stay inside whole-stage
codegen — no Python in the hot path (reference emits via RDF::NQuads,
spec/suite_helper.rb:270; here it's a string-concat expression tree).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


# C0 controls + DEL that have no named ECHAR — escaped as \uXXXX, matching
# rdf_model._escape_literal so the JVM expression and the Python writer
# (the one byte-parity-tested against the reference) serialize any crawl
# literal identically
_OTHER_CTRL = [
    chr(i) for i in [*range(0x20), 0x7F] if chr(i) not in "\b\t\n\f\r"
]
_CTRL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def _escape(col: Column) -> Column:
    # order matters: backslash first (named ECHARs mirror rdf_model._ESCAPES)
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    c = F.regexp_replace(c, "\b", r"\\b")
    c = F.regexp_replace(c, "\f", r"\\f")
    # \uXXXX the remaining controls only when one is present.  Codegen
    # discipline: the guard probes the RAW column (a plain input ref, so
    # the when/otherwise branches share `c` as a common subexpression —
    # rlike'ing `c` itself tripled the regexp chain in generated code
    # past the JVM's 64KB method limit and knocked the whole projection
    # out of codegen), and the rare dirty branch uses literal
    # single-char `replace` nodes, not 28 more regexp_replace.  Sound
    # because no earlier replacement introduces or consumes a raw
    # control char.
    esc = c
    for ch in _OTHER_CTRL:
        esc = F.replace(esc, F.lit(ch), F.lit(f"\\u{ord(ch):04X}"))
    return F.when(col.rlike(_CTRL_CLASS), esc).otherwise(c)


def _resource(col: Column) -> Column:
    # quoted triples (N-Quads-star `<< … >>`, already serialized by the
    # rdfstar toRdf path) pass through like bnodes
    return F.when(col.startswith("_:") | col.startswith("<<"), col).otherwise(
        F.concat(F.lit("<"), col, F.lit(">"))
    )


def nquad_col(
    subj: Column | str = "subj",
    pred: Column | str = "pred",
    obj: Column | str = "obj",
    obj_is_literal: Column | str = "obj_is_literal",
    obj_datatype: Column | str = "obj_datatype",
    obj_lang: Column | str = "obj_lang",
    graph: Column | str = "graph",
) -> Column:
    def _c(c):
        return c if isinstance(c, Column) else F.col(c)

    subj, pred, obj = _c(subj), _c(pred), _c(obj)
    lit, dt, lang, g = (
        _c(obj_is_literal),
        _c(obj_datatype),
        _c(obj_lang),
        _c(graph),
    )
    literal = F.concat(F.lit('"'), _escape(obj), F.lit('"'))
    literal = (
        F.when(
            # lang wins whenever present (rdf_model.term_to_nquads parity:
            # `if quad.obj_lang:`) — requiring dt==langString here would
            # silently drop the tag on rows whose datatype column was
            # nulled by an external producer
            lang.isNotNull() & (lang != ""),
            F.concat(literal, F.lit("@"), lang),
        )
        .when(
            dt.isNotNull() & (dt != XSD_STRING),
            F.concat(literal, F.lit("^^<"), dt, F.lit(">")),
        )
        .otherwise(literal)
    )
    term = F.when(lit, literal).otherwise(_resource(obj))
    line = F.concat_ws(" ", _resource(subj), _resource(pred), term)
    return F.when(
        g.isNotNull(), F.concat_ws(" ", line, _resource(g), F.lit("."))
    ).otherwise(F.concat_ws(" ", line, F.lit(".")))


NQ_TRIPLES_SCHEMA = (
    "subj string, pred string, obj string, obj_is_literal boolean,"
    " obj_datatype string, obj_lang string, graph string"
)
_NQ_COLS = [
    "subj", "pred", "obj", "obj_is_literal", "obj_datatype", "obj_lang", "graph"
]


def parse_nquads_lines(
    lines: DataFrame, col: str = "value", mode: str = "strict"
) -> DataFrame:
    """Distributed N-Quads parse: a string column of N-Quads lines → the
    engine's triples schema (NULL datatype ⇒ xsd:string, the pipeline
    storage convention).  Embarrassingly parallel — one Arrow-batched
    ``mapInPandas`` pass, no shuffle; lines are independent so the text
    source's arbitrary file splits are safe.  Blank and ``#`` comment
    lines are skipped; N-Quads-star quoted-term lines parse like the
    writer emits them.  ``mode="strict"`` fails the job on a malformed
    line (ValueError carries the line); ``mode="drop"`` skips malformed
    lines — crawl-scale dumps with stray corruption.  Inverse of
    ``nquad_col``/``write_nquads`` (reference reads N-Quads via its
    RDF::NQuads interop, spec/suite_helper.rb:270)."""
    if mode not in ("strict", "drop"):
        raise ValueError(f"mode must be strict|drop: {mode}")
    from ..rdf_model import parse_nquads
    from ..udfs import release_launch_zip_finders

    def fn(batches):
        import pandas as pd

        try:
            for pdf in batches:
                rows = []
                for line in pdf[col].to_numpy():
                    if line is None:
                        continue
                    try:
                        quads = parse_nquads(line)
                    except ValueError:
                        if mode == "strict":
                            raise
                        continue
                    for q in quads:
                        rows.append(
                            (
                                q.subj,
                                q.pred,
                                q.obj,
                                q.obj_is_literal,
                                None if q.obj_datatype == XSD_STRING else q.obj_datatype,
                                q.obj_lang,
                                q.graph,
                            )
                        )
                yield pd.DataFrame(rows, columns=_NQ_COLS)
        finally:
            release_launch_zip_finders()

    return lines.select(F.col(col)).mapInPandas(fn, NQ_TRIPLES_SCHEMA)


def read_nquads(spark, path: str, mode: str = "strict") -> DataFrame:
    """Read N-Quads text file(s) into a triples DataFrame.  The JVM text
    source handles file listing/splits (one line per row, partitions
    sized by ``spark.sql.files.maxPartitionBytes``); parsing distributes
    via ``parse_nquads_lines``."""
    return parse_nquads_lines(spark.read.text(path), mode=mode)


def write_nquads(triples: DataFrame, path: str, partitions: int | None = None) -> None:
    """N-Quads text sink — the cluster analog of the reference's
    StreamingWriter (streaming_writer.rb:41-73): its grouped-by-graph-
    then-subject emission precondition becomes ``sortWithinPartitions``;
    each task streams one sorted part file, no driver involvement."""
    df = triples
    if partitions:
        df = df.repartition(partitions, "graph", "subj")
    (
        df.sortWithinPartitions("graph", "subj", "pred")
        .select(nquad_col().alias("value"))
        .write.mode("overwrite")
        .text(path)
    )
