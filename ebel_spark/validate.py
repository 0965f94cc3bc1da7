"""Distributed namespace/annotation validation.

Re-expresses the reference's per-entry Python/SQL probes
(/root/reference/ebel/transformers.py:959-1128, ebel/manager/models.py:163-237)
as one DataFrame pass: each entry is left-joined to its file's definitions
of its keyword, the URL rows then probe the namespace dictionaries in a
broadcast-hash join, and one CASE over the definition type classifies the
row:

- no definition            -> WithoutDefined*
- LIST                     -> array_contains
- PATTERN                  -> per-row RLIKE against the pattern column
- URL                      -> dictionary miss, then a broadcast suggestion
                              join for hints (exact match in other
                              namespaces, else prefix similarity, else an
                              OLS search URL — models.py:204-233)

All error rows match the reference report columns
(/root/reference/ebel/validate.py:273-281).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_REPORT_COLS = [
    "file_sha", "error_class", "url", "keyword", "entry",
    "line_number", "column", "hint",
]


def _report(df: DataFrame, error_class_col) -> DataFrame:
    return df.select(
        "file_sha",
        error_class_col.alias("error_class"),
        F.col("url").cast("string").alias("url"),
        "keyword",
        F.regexp_replace("entry", "[\n\r]", "").alias("entry"),
        F.col("line").alias("line_number"),
        F.col("col").alias("column"),
        F.col("hint").cast("string").alias("hint"),
    )


def _invalid_patterns(defs: DataFrame) -> list[str]:
    """The PATTERN regexes java.util.regex (the engine rlike uses) rejects.

    Per-file containment: the reference re.compile simply raises on a
    malformed PATTERN (it validates one file per process); in a corpus
    job one bad regex must not fail the executor task 4 times and kill
    the whole run.  Distinct pattern strings are vocabulary-sized, like
    the reference's definitions table, so they are compiled driver-side
    and entries under an invalid one are reported with an explanatory
    hint instead of being evaluated."""
    jvm = defs.sparkSession.sparkContext._jvm
    invalid = []
    for r in defs.filter(F.col("def_type") == "PATTERN") \
            .select("value").distinct().collect():
        try:
            jvm.java.util.regex.Pattern.compile(r.value)
        except Exception:
            invalid.append(r.value)
    return invalid


def _ols_hint(entry_col):
    # models.py:233-235: urlencode({'q': entry}, quote_via=quote_plus).
    # F.url_encode IS application/x-www-form-urlencoded (space -> +,
    # every reserved char percent-escaped), so entries with +/&/()/'
    # (CHEBI names have them) produce a correct search URL.
    return F.concat(
        F.lit("[OLS suggests](https://www.ebi.ac.uk/ols/search?q="),
        F.url_encode(F.col(entry_col)),
        F.lit(")"),
    )


def _url_hints(misses: DataFrame, dictionary: DataFrame) -> DataFrame:
    """One hint per distinct (kind, keyword, entry) URL miss: exact-name
    alternatives, else prefix-similar names, else an OLS search URL."""
    # deduplicated before the (more expensive) suggestion joins, mirroring
    # the reference's per-entry memo caches (models.py:183-235).  The miss
    # set feeds THREE hint subtrees — persist the (tiny, distinct-triple)
    # frame so the validation join runs once for them, not three times.
    # ContextCleaner unpersists it once the query's references are gone.
    from pyspark import StorageLevel
    distinct_misses = misses.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    # 1) exact-name matches under any keyword (models.py:204-212):
    #    the reference's SQL `name LIKE entry` with no wildcard is a
    #    CASE-INSENSITIVE equality under MySQL/SQLite collation, so
    #    the join compares lowercased names.  (The reference appends
    #    the namespace "(url)" to each alternative; the offline
    #    synthetic dims carry no URL registry, a documented delta.)
    #    Inner join (BroadcastHashJoin); non-matching misses must not
    #    ride through a left join into the groupBy — the final hints
    #    frame left-joins the aggregate back anyway.
    exact = distinct_misses.join(
        F.broadcast(dictionary.select(
            F.col("kind").alias("d_kind"), F.col("keyword").alias("d_kw"),
            F.col("name").alias("d_name"),
        )),
        (F.col("kind") == F.col("d_kind"))
        & (F.lower(F.col("entry")) == F.lower(F.col("d_name"))),
        "inner",
    ).groupBy("kind", "keyword", "entry").agg(
        F.sort_array(F.collect_set(
            F.concat(F.col("d_kw"), F.lit(':"'), F.col("d_name"), F.lit('"'))
        )).alias("alts")
    )

    # 2) prefix similarity for entries >= 6 chars (models.py:216-229):
    #    name LIKE entry[:-2]% and len(name) < len(entry)+3, limit 20.
    #    A raw startswith predicate would plan a BroadcastNestedLoopJoin
    #    (misses x full dictionary — a scale-killer the day a corpus has
    #    millions of distinct unknown entries).  Instead: equi-join on a
    #    fixed 4-char prefix key (valid because entry >= 6 chars means
    #    the LIKE prefix is >= 4 chars, and any d_name starting with it
    #    shares its first 4 chars), then post-filter the exact predicate
    #    inside the hash-bucket — a BroadcastHashJoin.
    pfx = distinct_misses.filter(F.length("entry") >= 6).select(
        "kind", "keyword", "entry",
        F.expr("substring(entry, 1, length(entry) - 2)").alias("pfx"),
        F.length("entry").alias("elen"),
    ).withColumn("p4", F.substring("pfx", 1, 4))
    similars = pfx.join(
        F.broadcast(
            dictionary.filter(F.length("name") >= 4).select(
                F.col("kind").alias("d_kind"),
                F.col("keyword").alias("d_kw"),
                F.col("name").alias("d_name"),
                F.substring("name", 1, 4).alias("d4"),
            )),
        (F.col("kind") == F.col("d_kind")) & (F.col("p4") == F.col("d4")),
        "inner",
    ).filter(
        F.col("d_name").startswith(F.col("pfx"))
        & (F.length("d_name") < F.col("elen") + 3)
    )
    w = Window.partitionBy("kind", "keyword", "entry").orderBy("d_kw", "d_name")
    similars = (
        similars.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("kind", "keyword", "entry")
        .agg(F.sort_array(F.collect_set(
            F.concat(F.col("d_kw"), F.lit(':"'), F.col("d_name"), F.lit('"'))
        )).alias("sims"))
    )

    return (
        distinct_misses
        .join(exact, ["kind", "keyword", "entry"], "left")
        .join(similars, ["kind", "keyword", "entry"], "left")
        .withColumn(
            "hint",
            F.when(
                F.size(F.coalesce("alts", F.array())) > 0,
                F.concat(F.lit("Did you mean: "),
                         F.array_join("alts", ", ")),
            ).when(
                F.size(F.coalesce("sims", F.array())) > 0,
                F.concat(F.lit("Similar: "), F.array_join("sims", ", ")),
            ).otherwise(_ols_hint("entry")),
        )
        .select("kind", "keyword", "entry", "hint")
    )


def ambiguity_warnings(entries: DataFrame) -> DataFrame:
    """AlsoUsedInOtherNamespace warning (transformers.py:913-957): the same
    lower-cased entry appearing under >1 namespace keyword."""
    ns = entries.filter(F.col("kind") == "ns")
    keyword_sets = (
        ns.groupBy("file_sha", F.lower("entry").alias("lentry"))
        .agg(F.collect_set("keyword").alias("keywords"))
        .filter(F.size("keywords") > 1)
    )
    occ = ns.withColumn("lentry", F.lower("entry"))
    amb = occ.join(keyword_sets, ["file_sha", "lentry"])
    amb = amb.withColumn(
        "hint",
        F.concat(
            F.col("entry"), F.lit(" exists also in "),
            F.array_join(
                F.sort_array(F.array_remove("keywords", F.col("keyword"))), ", "
            ),
        ),
    ).withColumn("url", F.lit(None))
    return _report(amb, F.lit("AlsoUsedInOtherNamespace"))


def multiple_definition_report(defs: DataFrame) -> DataFrame:
    """Keywords defined more than once per file (transformers.py:1231-1255)."""
    return (
        defs.groupBy("file_sha", "kind", "keyword")
        .count()
        .filter(F.col("count") > 1)
        .withColumnRenamed("count", "n_definitions")
    )


def write_error_report(errors: DataFrame, path: str) -> str:
    """Reference-format error report (validate.py:252-354): one file whose
    format follows the suffix (.csv/.tsv/.json/.txt), columns matching the
    reference report (error_class, url, keyword, entry, line_number,
    column, hint) with file_sha prepended (our reports span a corpus, the
    reference's span one file).

    Driver-side convenience for human-sized reports — the parquet errors
    table stays the scale path."""
    pdf = errors.select(*_REPORT_COLS).toPandas()
    if path.endswith(".csv"):
        pdf.to_csv(path, index=False)
    elif path.endswith(".tsv"):
        pdf.to_csv(path, sep="\t", index=False)
    elif path.endswith(".json"):
        pdf.to_json(path, orient="records")
    elif path.endswith(".txt"):
        with open(path, "w", encoding="utf-8") as fd:
            fd.write(pdf.to_string(index=False))
    elif path.endswith(".md"):
        with open(path, "w", encoding="utf-8") as fd:
            cols = list(pdf.columns)
            fd.write("| " + " | ".join(cols) + " |\n")
            fd.write("|" + "---|" * len(cols) + "\n")
            for row in pdf.itertuples(index=False):
                cells = ["" if v is None or v != v else
                         str(v).replace("|", "\\|").replace("\n", " ")
                         for v in row]
                fd.write("| " + " | ".join(cells) + " |\n")
    elif path.endswith(".html"):
        with open(path, "w", encoding="utf-8") as fd:
            fd.write(pdf.to_html(index=False, na_rep=""))
    elif path.endswith(".xlsx"):
        # reference validate.py:252-354 defaults to an Excel report; the
        # engine supports it when an xlsx writer is installed (this
        # sandbox ships neither openpyxl nor xlsxwriter)
        try:
            pdf.to_excel(path, index=False)
        except ImportError as exc:
            raise RuntimeError(
                "xlsx reports need openpyxl or xlsxwriter installed; "
                "use .csv/.tsv/.json/.txt/.md/.html here") from exc
    else:
        raise ValueError(f"unsupported report suffix: {path} "
                         "(use .csv/.tsv/.json/.txt/.md/.html/.xlsx)")
    return path


def semantic_errors(
    entries: DataFrame,
    defs: DataFrame,
    ns_dict: DataFrame,
    anno_dict: DataFrame,
    with_hints: bool = True,
) -> DataFrame:
    """All semantic error families in one pass, reference report columns:
    one row per (entry, matching definition) that fails its check, and one
    WithoutDefined* row per entry whose keyword its file does not define.

    - WithoutDefinedNamespace / WithoutDefinedAnnotation
      (transformers.py:1019-1051)
    - NotInNamespaceList / NotInAnnotationList (transformers.py:991-1017)
    - NotInNamespacePattern / NotInAnnotationPattern
      (transformers.py:959-989: search with '^'+regex+'$')
    - NotInNamespaceUrl / NotInAnnotationUrl: the hot join of the
      pipeline, every used (keyword, name) occurrence against the
      namespace dictionaries.  Dictionaries are dimension-sized (<<
      broadcast threshold) so the probe is a broadcast-hash join, no
      shuffle of the big side at all.
    """
    dictionary = (
        ns_dict.select(F.lit("ns").alias("kind"), "keyword", "name")
        .unionByName(
            anno_dict.select(F.lit("anno").alias("kind"), "keyword", "name")
        )
    )
    joined = entries.join(
        defs.select("file_sha", "kind", "keyword", "def_type", "value",
                    "value_list"),
        ["file_sha", "kind", "keyword"], "left",
    )
    # only URL rows probe; a name listed twice under one keyword multiplies
    # a hit, never a miss, and hits are not errors
    joined = joined.join(
        F.broadcast(dictionary.select(
            F.col("kind").alias("d_kind"), F.col("keyword").alias("d_kw"),
            F.col("name").alias("d_name"),
        )),
        (F.col("def_type") == "URL") & (F.col("kind") == F.col("d_kind"))
        & (F.col("keyword") == F.col("d_kw"))
        & (F.col("entry") == F.col("d_name")),
        "left",
    )

    noun = F.when(F.col("kind") == "ns", F.lit("Namespace")) \
        .otherwise(F.lit("Annotation"))

    def not_in(family: str):
        return F.concat(F.lit("NotIn"), noun, F.lit(family))

    dt = F.col("def_type")
    invalid = _invalid_patterns(defs)
    # CASE evaluates its branches in order, so rlike never sees an
    # invalid pattern
    broken = (dt == "PATTERN") & F.col("value").isin(invalid) if invalid \
        else F.lit(False)
    error_class = (
        F.when(dt.isNull(), F.concat(F.lit("WithoutDefined"), noun))
        .when(dt == "LIST", F.when(
            ~F.array_contains("value_list", F.col("entry")), not_in("List")))
        .when(broken, not_in("Pattern"))
        .when(dt == "PATTERN", F.when(
            ~F.expr("entry rlike concat('^', value, '$')"), not_in("Pattern")))
        .when(dt == "URL", F.when(F.col("d_name").isNull(), not_in("Url")))
    )
    errors = joined.withColumn("error_class", error_class) \
        .filter(F.col("error_class").isNotNull()) \
        .withColumn("url", F.when(dt == "URL", F.col("value"))) \
        .withColumn("hint", F.when(broken, F.concat(
            F.lit("invalid PATTERN regex: "), F.col("value"))))

    if not with_hints:
        url_hint = _ols_hint("entry")
    else:
        hints = _url_hints(
            errors.filter(dt == "URL").select("kind", "keyword", "entry"),
            dictionary)
        errors = errors.join(F.broadcast(hints.withColumnRenamed(
            "hint", "url_hint")), ["kind", "keyword", "entry"], "left")
        url_hint = F.col("url_hint")
    errors = errors.withColumn(
        "hint", F.when(dt == "URL", url_hint).otherwise(F.col("hint")))
    return _report(errors, F.col("error_class"))
