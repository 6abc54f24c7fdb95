"""Sources: RDF/N-Triples and CSV document loaders + the schemaless EAV
triples view.

The reference ingests RDF for its LUBM/WatDiv benchmarks
(crux.rdf/submit-ntriples, used from crux-bench/src/crux/bench/
watdiv_crux.clj:33) and CSV for the TimescaleDB suites
(crux-bench/src/crux/bench/ts_devices.clj:36-60). Spark recast: parse
N-Triples lines into an (e, a, v) DataFrame, pivot to a wide document
table per predicate set, or keep the typed EAV view for fully schemaless
Datalog (SURVEY.md §1.5's `triples` view with one column per type class,
the analogue of codec.clj's tagged value encoding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crux_spark._jvmcache import memo

# <subj>|_:bnode <pred> "literal"^^<type> .  |  ... <obj>|_:bnode .
_NT_REGEX = r"^(<[^>]+>|_:\S+)\s+<([^>]+)>\s+(.+?)\s*\.\s*$"


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """Parse an N-Triples file into (e, a, v, v_type) rows.

    IRIs become strings; blank nodes (``_:b0``) keep their label as an
    opaque entity id (the reference keywordizes them the same way,
    crux-rdf); literals keep their lexical form with an inferred v_type
    ('iri' | 'string' | 'long' | 'double'). One narrow pass — regex
    extraction is codegen'd, scales linearly with input splits."""
    lines = spark.read.text(path).filter(
        (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("#")
    )
    parsed = lines.select(
        F.regexp_extract("value", _NT_REGEX, 1).alias("raw_e"),
        F.regexp_extract("value", _NT_REGEX, 2).alias("a"),
        F.regexp_extract("value", _NT_REGEX, 3).alias("raw_v"),
    ).filter(F.col("raw_e") != "")
    v_iri = F.regexp_extract("raw_v", r"^<([^>]+)>$", 1)
    v_bnode = F.regexp_extract("raw_v", r"^(_:\S+)$", 1)
    # unrolled-loop literal pattern: the naive per-char alternation
    # ((?:[^"\]|\\.)*) recurses once per character in java.util.regex and
    # StackOverflows on multi-KB literals (dbpedia abstracts); the
    # unrolled form matches runs of plain chars with single escapes
    # between them in constant stack
    v_str = F.regexp_extract("raw_v", r'^"([^"\\]*(?:\\.[^"\\]*)*)"', 1)
    is_num = F.col("raw_v").rlike(r'^"-?[0-9.]+"\^\^.*(integer|int|long|double|decimal|float)')
    is_int = F.col("raw_v").rlike(r'^"-?[0-9]+"\^\^.*(integer|int|long)')
    v_lang = F.regexp_extract("raw_v", r'"@([a-zA-Z][a-zA-Z0-9-]*)\s*$', 1)
    return parsed.select(
        F.regexp_replace("raw_e", r"^<|>$", "").alias("e"),
        "a",
        F.when(v_iri != "", v_iri)
        .when(v_bnode != "", v_bnode)
        .otherwise(v_str)
        .alias("v"),
        F.when((v_iri != "") | (v_bnode != ""), F.lit("iri"))
        .when(is_int, F.lit("long"))
        .when(is_num, F.lit("double"))
        .otherwise(F.lit("string"))
        .alias("v_type"),
        # language-tagged literal ("Pablo"@en) -> tag; null otherwise
        F.when(v_lang != "", v_lang).alias("lang"),
    ).filter(F.col("v") != "")


def pivot_triples(triples: DataFrame, attrs: list[str] | None = None) -> DataFrame:
    """Pivot (e, a, v) rows into a wide document table (one column per
    attribute; multi-valued attributes become arrays). The bridge from RDF
    EAV form to the catalog's typed-table form.

    When the input carries a ``v_type`` column (read_ntriples output), a
    uniformly-numeric attribute is cast to its native type, so typed
    literals ("25"^^xsd:integer) compare numerically downstream — the
    analogue of the reference's tagged value codec (codec.clj:81-99)."""
    if attrs is None:
        attrs = [r.a for r in triples.select("a").distinct().collect()]
    agg = triples.groupBy("e").pivot("a", attrs).agg(F.collect_list("v"))
    # single-valued columns collapse to scalars; uniformly-typed numeric
    # attrs get native types (two tiny agg passes over the triple set)
    single, cast_to = {}, {}
    counts = (
        triples.groupBy("e", "a").count().groupBy("a").agg(F.max("count").alias("m"))
    )
    for r in counts.collect():
        single[r.a] = r.m == 1
    if "v_type" in triples.columns:
        tmix = (
            triples.groupBy("a")
            .agg(F.collect_set("v_type").alias("ts"))
            .collect()
        )
        for r in tmix:
            ts = set(r.ts)
            if ts == {"long"}:
                cast_to[r.a] = "long"
            elif ts <= {"long", "double"} and "double" in ts:
                cast_to[r.a] = "double"
    # short column names = the IRI's last segment; when two predicates
    # share a suffix (rdf-syntax-ns#type vs schema.org type on real
    # dbpedia data), disambiguate with the previous path segment
    from collections import Counter

    def segs(a: str) -> list[str]:
        return a.replace("#", "/").rstrip("/").split("/")

    suffix_counts = Counter(segs(a)[-1] for a in attrs)
    names = {
        a: (
            segs(a)[-1]
            if suffix_counts[segs(a)[-1]] == 1
            else "_".join(segs(a)[-2:])
        )
        for a in attrs
    }
    cols = [F.col("e").alias("_id")]
    for a in attrs:
        c = F.col(f"`{a}`")
        t = cast_to.get(a)
        if single.get(a, False):
            # F.get is null-safe on empty arrays (entities missing the attr)
            c = F.get(c, 0)
            if t:
                c = c.cast(t)
        elif t:
            c = F.transform(c, lambda x: x.cast(t))
        cols.append(c.alias(names[a]))
    return agg.select(*cols)


def select_default_language(triples: DataFrame, language: str = "en") -> DataFrame:
    """Collapse language-tagged literal variants per (e, a): keep the
    default language's values when that language is present, else the
    lexically-first tagged language; untagged rows always pass — the
    reference's Lang record + use-default-language semantics
    (labs/crux-rdf/src/crux/rdf.clj:37-43, :120-124). One (e, a)-keyed
    window; at scale this is a narrow shuffle on the triple key."""
    if "lang" not in triples.columns:
        return triples
    from pyspark.sql import Window

    w = Window.partitionBy("e", "a")
    marked = triples.withColumn(
        "__has_def",
        F.max(F.when(F.col("lang") == language, 1).otherwise(0)).over(w),
    ).withColumn("__first_lang", F.min("lang").over(w))  # min ignores nulls
    return marked.filter(
        F.col("lang").isNull()
        | (F.col("lang") == language)
        | ((F.col("__has_def") == 0) & (F.col("lang") == F.col("__first_lang")))
    ).drop("__has_def", "__first_lang")


def ingest_triples(
    store,
    triples: DataFrame,
    default_language: str = "en",
    valid_from=None,
    attrs: list[str] | None = None,
) -> None:
    """NTriples -> bitemporal store: language selection, subject-grouped
    document assembly (pivot), then ONE distributed put per entity via
    bulk_ingest — the rdf.clj ->tx-ops + submit loop (dbpedia_test.clj)
    without the driver round-trip (the reference batches 1000 tx-ops at
    a time through the driver; its own comments time 33M dbpedia
    triples at ~10min transact for exactly that reason)."""
    import datetime as _dt

    wide = pivot_triples(
        select_default_language(triples, default_language), attrs
    )
    vf = valid_from or _dt.datetime.now(_dt.timezone.utc)
    wide = wide.withColumn("__vf", F.lit(vf))
    doc_cols = [c for c in wide.columns if c not in ("_id", "__vf")]
    store.bulk_ingest(
        wide, id_expr="_id", doc_cols=doc_cols, valid_from_col="__vf"
    )


def read_csv_documents(
    spark: SparkSession, path: str, id_col: str, schema=None, **options
) -> DataFrame:
    """CSV → document table (ts-devices/ts-weather style ingestion).

    ``schema`` (StructType or DDL string) skips the inferSchema pass —
    inference reads the ENTIRE file once before the first real scan, so
    a caller that knows the column types (every production ingest) halves
    the CSV read cost by declaring them. Default stays inference: the
    reference's untyped-CSV ingest semantics."""
    if schema is not None:
        opts = {"header": "true", **options}
        df = spark.read.options(**opts).schema(schema).csv(path)
    else:
        opts = {"header": "true", "inferSchema": "true", **options}
        df = spark.read.options(**opts).csv(path)
    return df.withColumn("_id", F.col(id_col).cast("string"))


def triples_view(df: DataFrame, id_col: str = "_id") -> DataFrame:
    """Explode a wide document table into the typed EAV view of
    SURVEY.md §1.5: (e, a, v_type, v_long, v_double, v_dec, v_string,
    v_bool, v_ts, v_date, v_dur, pos). One row per (entity, attribute,
    value); array attributes emit one row per element with its position
    (the reference stores vector positions in ECAV,
    index_store.clj:912-926, so documents round-trip with order
    preserved).

    One typed column per codec.clj value-type class (the full tag
    spectrum as of r12): boolean(4), long(5), double(6), timestamp(7 —
    java.util.Date), string(8), char(9 — codec.clj:258-263), bigdec(11
    — codec.clj:282-302, Spark decimal(38,12)), bigint(12)/
    biginteger(13) (codec.clj:189-207 BCD — Spark decimal(38,0), the
    tags split via v_type), localdate(14 — codec.clj:312-326),
    localtime(15 — codec.clj:322-327, nano-of-day long),
    localdatetime(16 — codec.clj:329-341, Spark TIMESTAMP_NTZ with the
    metadata marker; a bare NTZ column stays in the Date class because
    parquet surfaces plain timestamps as NTZ), instant(17 —
    codec.clj:343-347, distinct from Date), duration(18 —
    codec.clj:348-354, Spark day-time interval). Exactly one is
    non-null per row; scan_var_attr composes them into the codec's
    cross-type total order.

    Classes Spark has no column type for (char / bigint / biginteger /
    localtime / instant) opt in via StructField metadata
    ``{"crux_type": "<class>"}`` (``df.withMetadata``) — see
    crux_spark.valuetypes. A localtime column carries nano-of-day as a
    long; an instant column is a TimestampType with the metadata
    marker."""
    import pyspark.sql.types as T

    pieces = []
    for f in df.schema.fields:
        if f.name == id_col:
            continue
        meta = f.metadata or {}
        if isinstance(f.dataType, T.ArrayType):
            ex = df.select(
                F.col(id_col).cast("string").alias("e"),
                F.posexplode(F.col(f.name)).alias("pos", "val"),
            )
            pieces.append(
                ex.select(
                    *_typed_row_cols(
                        f.name, f.dataType.elementType, meta, array=True
                    )
                )
            )
        else:
            # one filter + ONE select per scalar piece (r16): the val
            # projection folds into the typed projection, halving the
            # eager-analysis DataFrame ops per (table, attribute)
            pieces.append(
                df.filter(F.col(f.name).isNotNull()).select(
                    *_typed_row_cols(
                        f.name, f.dataType, meta, id_col=id_col
                    )
                )
            )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


DECIMAL_EAV_TYPE = "decimal(38,12)"


BIGINT_EAV_TYPE = "decimal(38,0)"

# slot key -> (output column name, Spark cast type). Ordered: this IS the
# EAV schema's typed-column order.
_EAV_SLOTS: dict[str, tuple[str, str]] = {
    "long": ("v_long", "long"),
    "double": ("v_double", "double"),
    "dec": ("v_dec", DECIMAL_EAV_TYPE),
    "string": ("v_string", "string"),
    "boolean": ("v_bool", "boolean"),
    "timestamp": ("v_ts", "timestamp"),
    "char": ("v_char", "string"),
    "bigint": ("v_bigint", BIGINT_EAV_TYPE),
    "date": ("v_date", "date"),
    "localtime": ("v_time", "long"),
    "localdatetime": ("v_ldt", "timestamp_ntz"),
    "instant": ("v_inst", "timestamp"),
    "duration": ("v_dur", "interval day to second"),
}

# The 12 aliased typed-null columns every _typed_row piece carries, and
# the 17-column select each triples_view piece runs, are constant
# unresolved Column trees: the select is a pure function of (field name,
# value type, crux_type marker, array-ness). Rebuilding them per piece
# cost ~45 and ~80 py4j round trips; on EAV-materializing gates view
# construction was half the warm materialization cost (0.92s of 2.0s at
# sf0.1 on an 11-table catalog). Both go through the gateway-lifetime
# memo.
def _null_slot_cols() -> dict[str, object]:
    return memo(("null_slots",), lambda: {
        s: F.lit(None).cast(t).alias(name) for s, (name, t) in _EAV_SLOTS.items()
    })


def _typed_row_cols(
    attr: str, dtype, meta=None, array: bool = False, id_col: str | None = None
) -> list:
    key = ("typed_row", attr, dtype.json(), (meta or {}).get("crux_type"), array, id_col)
    return memo(key, lambda: _build_typed_row_cols(attr, dtype, meta, array, id_col))


def _build_typed_row_cols(
    attr: str, dtype, meta=None, array: bool = False, id_col: str | None = None
) -> list:
    import pyspark.sql.types as T

    a = F.lit(":" + attr)
    pos = F.col("pos") if array else F.lit(None).cast("int")
    # inline form (id_col given): the piece projects straight off the
    # source table — value by its own column name, entity cast in place
    val = F.col(attr) if id_col is not None else F.col("val")
    # exactly one typed slot is populated per value-type class
    # (codec.clj's 1-byte type tag); the rest stay typed nulls so the
    # union across attributes/tables keeps one schema
    slots = dict(_null_slot_cols())
    crux_type = (meta or {}).get("crux_type")
    if crux_type == "char":
        # tag 9 (codec.clj:258-263): sorts after strings
        v_type, slot, expr = "char", "char", val.cast("string")
    elif crux_type in ("bigint", "biginteger"):
        # tags 12/13 (codec.clj:189-207 BCD): numeric order within the
        # tag — decimal(38,0) preserves it; the two tags stay distinct
        # through v_type
        v_type, slot, expr = crux_type, "bigint", val.cast(BIGINT_EAV_TYPE)
    elif crux_type == "localtime":
        # tag 15 (codec.clj:322-327): nano-of-day long, order-preserving
        v_type, slot, expr = "localtime", "localtime", val.cast("long")
    elif crux_type == "instant":
        # tag 17 (codec.clj:343-347): an instant sorts after strings —
        # distinct from the Date class (tag 7) plain timestamps map to
        v_type, slot, expr = "instant", "instant", val.cast("timestamp")
    elif crux_type == "localdatetime":
        # tag 16 (codec.clj:329-341): wall-clock datetime, no instant
        # semantics. OPT-IN like the other non-native classes: parquet
        # timestamps frequently surface as TIMESTAMP_NTZ, and the
        # common case (EDN #inst) is the Date class (tag 7) — only a
        # column that declares itself LocalDateTime sorts at tag 16
        v_type, slot, expr = (
            "localdatetime", "localdatetime", val.cast("timestamp_ntz"))
    elif isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        v_type, slot, expr = "long", "long", val.cast("long")
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        v_type, slot, expr = "double", "double", val.cast("double")
    elif isinstance(dtype, T.DecimalType):
        # BigDecimal is its OWN type class in the codec (tag 11,
        # codec.clj:282-302) — it must NOT collapse into double, both
        # for precision and because it sorts after strings in the
        # cross-type total order
        v_type, slot, expr = "decimal", "dec", val.cast(DECIMAL_EAV_TYPE)
    elif isinstance(dtype, T.BooleanType):
        v_type, slot, expr = "boolean", "boolean", val.cast("boolean")
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        v_type, slot, expr = "timestamp", "timestamp", val.cast("timestamp")
    elif isinstance(dtype, T.DateType):
        # LocalDate tag 14 (codec.clj:312-326) — distinct from
        # java.util.Date/timestamp (tag 7)
        v_type, slot, expr = "date", "date", val.cast("date")
    elif isinstance(dtype, T.DayTimeIntervalType):
        v_type, slot, expr = "duration", "duration", val.cast(
            "interval day to second")
    else:
        v_type, slot, expr = "string", "string", val.cast("string")
    slots[slot] = expr.alias(_EAV_SLOTS[slot][0])
    e = (
        F.col(id_col).cast("string").alias("e")
        if id_col is not None
        else F.col("e")
    )
    return [
        e,
        a.alias("a"),
        F.lit(v_type).alias("v_type"),
        *[slots[s] for s in _EAV_SLOTS],
        pos.alias("pos"),
    ]
