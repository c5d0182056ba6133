"""Wikidata-surface operators (§2.11 K1-K12) — the reference's own domain:
parse `latest-all.json` dump lines, flatten to normalized tables, load a
JDBC sink. Spark side uses the typed two-layer schema (flatten.py); DuckDB
oracles iterate the SAME literals (fixture.py) with json_keys/json_extract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata2pg_spark.registry import query
from wikidata2pg_spark.util import truncate_plan
from wikidata2pg_spark.wikidata import flatten
from wikidata2pg_spark.wikidata.fixture import DUMP_LINES, entities_cte


def _raw_df(spark):
    return spark.createDataFrame([(l,) for l in DUMP_LINES], "line string")


def _parsed(spark):
    return flatten.parse_entities(flatten.clean_dump_lines(_raw_df(spark)))


def _latest(spark):
    return flatten.latest_revisions(_parsed(spark))


# Shared oracle CTE prefixes ------------------------------------------------

_LATEST_CTE = (
    "latest(line) AS (SELECT line FROM (SELECT line, row_number() OVER ("
    "PARTITION BY json_extract_string(line, '$.id') "
    "ORDER BY json_extract(line, '$.lastrevid')::BIGINT DESC, line DESC) AS rn FROM ent) "
    "WHERE rn = 1)"
)

_STMTS_CTE = """stmts AS (
    SELECT json_extract_string(l.line, '$.id') AS subject,
           u.prop AS property,
           g.i AS stmt_idx,
           json_extract(l.line, '$.claims.' || u.prop || '[' || g.i::VARCHAR || ']') AS stmt
    FROM latest l,
         unnest(coalesce(json_keys(l.line, '$.claims'), [])) AS u(prop),
         LATERAL (SELECT unnest(range(json_array_length(
             json_extract(l.line, '$.claims.' || u.prop))::BIGINT))) AS g(i)
)"""

def _value_case(snak_expr: str, dv_path: str) -> str:
    """Full datavalue-union dispatch as SQL, parameterized on the snak
    expression and the datavalue path — the ONE dispatch both mainsnak
    values and qualifier snaks go through (ADVICE r1: the qualifier oracle
    previously covered only 3 of the 6 types; flatten.datavalue_str is the
    Spark twin)."""
    p = f"{dv_path}.datavalue"
    return f"""CASE json_extract_string({snak_expr}, '{p}.type')
      WHEN 'wikibase-entityid' THEN json_extract_string({snak_expr}, '{p}.value.id')
      WHEN 'string' THEN json_extract_string({snak_expr}, '{p}.value')
      WHEN 'time' THEN json_extract_string({snak_expr}, '{p}.value.time')
      WHEN 'quantity' THEN json_extract_string({snak_expr}, '{p}.value.amount')
      WHEN 'globecoordinate' THEN
           json_extract({snak_expr}, '{p}.value.latitude')::DOUBLE::VARCHAR
           || ',' ||
           json_extract({snak_expr}, '{p}.value.longitude')::DOUBLE::VARCHAR
      WHEN 'monolingualtext' THEN json_extract_string({snak_expr}, '{p}.value.text')
      END"""


_VALUE_CASE = _value_case("stmt", "$.mainsnak")


@query(
    "q_wd_parse_entity",
    oracle=f"""
WITH {entities_cte()}
SELECT json_extract_string(line, '$.id') AS id,
       json_extract_string(line, '$.type') AS type,
       json_extract(line, '$.lastrevid')::BIGINT AS lastrevid,
       coalesce(len(json_keys(line, '$.labels')), 0) AS n_labels,
       coalesce(len(json_keys(line, '$.claims')), 0) AS n_claim_props,
       coalesce(json_array_length(json_extract(line, '$.aliases.en')), 0) AS n_aliases_en,
       json_keys(line, '$.sitelinks') IS NOT NULL AS has_sitelinks
FROM ent
""",
)
def q_wd_parse_entity(spark, sf_dir):
    """K1: dump line → typed entity (brackets/commas stripped, PERMISSIVE).

    Covers the reference's line-oriented parse loop [R] — but as one
    declarative pass over all lines instead of row-at-a-time Python."""
    p = _parsed(spark)
    return p.select(
        F.col("e.id").alias("id"),
        F.col("e.type").alias("type"),
        F.col("e.lastrevid").alias("lastrevid"),
        F.coalesce(F.size("e.labels"), F.lit(0)).cast("long").alias("n_labels"),
        F.coalesce(F.size("e.claims"), F.lit(0)).cast("long").alias("n_claim_props"),
        F.coalesce(F.size(F.col("e.aliases")["en"]), F.lit(0)).cast("long").alias("n_aliases_en"),
        F.col("e.sitelinks").isNotNull().alias("has_sitelinks"),
    )


@query(
    "q_wd_labels",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(l.line, '$.id') AS id,
       u.lang AS lang,
       json_extract_string(l.line, '$.labels.' || u.lang || '.value') AS label
FROM latest l, unnest(coalesce(json_keys(l.line, '$.labels'), [])) AS u(lang)
""",
)
def q_wd_labels(spark, sf_dir):
    """K2: flatten the open per-language labels map → (id, lang, label)."""
    return flatten.labels_table(_latest(spark))


@query(
    "q_wd_descriptions",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(l.line, '$.id') AS id,
       u.lang AS lang,
       json_extract_string(l.line, '$.descriptions.' || u.lang || '.value') AS description
FROM latest l, unnest(coalesce(json_keys(l.line, '$.descriptions'), [])) AS u(lang)
""",
)
def q_wd_descriptions(spark, sf_dir):
    """K2's sibling: flatten the per-language descriptions map →
    (id, lang, description) — the remaining termstore table a reference
    ETL user loads next to labels/aliases (new in r5; CLI table
    wd_descriptions)."""
    return flatten.descriptions_table(_latest(spark))


@query(
    "q_wd_property_stats",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE}
SELECT property,
       count(*) AS n_statements,
       count(DISTINCT subject) AS n_subjects,
       count(DISTINCT json_extract_string(stmt, '$.mainsnak.datavalue.type')) AS n_value_types
FROM stmts
GROUP BY property
""",
)
def q_wd_property_stats(spark, sf_dir):
    """Property-usage profile: statements / distinct subjects / distinct
    value types per property — the first query run against a freshly
    loaded wikidata database (what's in here?), and the input to
    partition/bucket decisions for the claims table at scale (hot
    properties like P31 dominate; the stats are one hash-shuffle on
    property with partial aggregation; new in r5)."""
    st = flatten.statements(_latest(spark))
    return st.groupBy("property").agg(
        F.count(F.lit(1)).alias("n_statements"),
        F.countDistinct("id").alias("n_subjects"),
        F.countDistinct(flatten.datavalue_type(F.col("dv"))).alias("n_value_types"),
    )


@query(
    "q_wd_label_lookup",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(line, '$.id') AS id,
       coalesce(json_extract_string(line, '$.labels.en.value'),
                json_extract_string(line, '$.labels.de.value'),
                json_extract_string(line, '$.labels.es.value'),
                json_extract_string(line, '$.labels.fr.value')) AS best_label,
       json_extract_string(line, '$.descriptions.en.value') AS desc_en
FROM latest
""",
)
def q_wd_label_lookup(spark, sf_dir):
    """K3: best-label resolution with a language fallback chain."""
    p = _latest(spark)
    lbl = F.col("e.labels")
    return p.select(
        F.col("e.id").alias("id"),
        F.coalesce(
            lbl["en"]["value"], lbl["de"]["value"], lbl["es"]["value"], lbl["fr"]["value"]
        ).alias("best_label"),
        F.col("e.descriptions")["en"]["value"].alias("desc_en"),
    )


@query(
    "q_wd_claims_triples",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE}
SELECT subject, property, stmt_idx,
       json_extract_string(stmt, '$.rank') AS rank,
       json_extract_string(stmt, '$.mainsnak.snaktype') AS snaktype,
       json_extract_string(stmt, '$.mainsnak.datavalue.type') AS value_type,
       {_VALUE_CASE} AS value
FROM stmts
""",
)
def q_wd_claims_triples(spark, sf_dir):
    """K4: claims → (subject, property, stmt_idx, rank, snaktype, value_type,
    value) triple table with full datavalue-union dispatch."""
    return flatten.claims_triples(_latest(spark))


@query(
    "q_wd_snaktype_nulls",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE}
SELECT subject, property, stmt_idx,
       json_extract_string(stmt, '$.mainsnak.snaktype') AS snaktype,
       json_extract_string(stmt, '$.mainsnak.snaktype') = 'somevalue' AS is_unknown,
       json_extract_string(stmt, '$.mainsnak.snaktype') = 'novalue' AS is_none,
       CASE WHEN json_extract_string(stmt, '$.mainsnak.snaktype') = 'value'
            THEN {_VALUE_CASE} END AS value
FROM stmts
""",
)
def q_wd_snaktype_nulls(spark, sf_dir):
    """K5: somevalue/novalue → typed NULL semantics (unknown-vs-no-value)."""
    st = flatten.statements(_latest(spark))
    return st.select(
        F.col("id").alias("subject"),
        "property",
        "stmt_idx",
        "snaktype",
        (F.col("snaktype") == "somevalue").alias("is_unknown"),
        (F.col("snaktype") == "novalue").alias("is_none"),
        F.when(F.col("snaktype") == "value", flatten.datavalue_str(F.col("dv"))).alias("value"),
    )


@query(
    "q_wd_truthy_rank",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  ranked AS (
    SELECT subject, property, stmt_idx,
           json_extract_string(stmt, '$.rank') AS rank,
           {_VALUE_CASE} AS value,
           max(CASE WHEN json_extract_string(stmt, '$.rank') = 'preferred' THEN 1 ELSE 0 END)
             OVER (PARTITION BY subject, property) AS has_pref
    FROM stmts
    WHERE json_extract_string(stmt, '$.rank') != 'deprecated'
  )
SELECT subject, property, stmt_idx, rank, value
FROM ranked
WHERE has_pref = 0 OR rank = 'preferred'
""",
)
def q_wd_truthy_rank(spark, sf_dir):
    """K6: truthy selection — preferred-if-any-else-normal, never deprecated
    (standard Wikibase semantics)."""
    t = flatten.truthy_statements(_latest(spark))
    return t.select(
        F.col("id").alias("subject"),
        "property",
        "stmt_idx",
        "rank",
        flatten.datavalue_str(F.col("dv")).alias("value"),
    )


@query(
    "q_wd_qualifiers",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  quals AS (
    SELECT subject, property, stmt_idx,
           q.qp AS qual_property,
           h.i AS qual_idx,
           json_extract(stmt, '$.qualifiers.' || q.qp || '[' || h.i::VARCHAR || ']') AS qsnak
    FROM stmts,
         unnest(coalesce(json_keys(stmt, '$.qualifiers'), [])) AS q(qp),
         LATERAL (SELECT unnest(range(json_array_length(
             json_extract(stmt, '$.qualifiers.' || q.qp))::BIGINT))) AS h(i)
  )
SELECT subject, property, stmt_idx, qual_property, qual_idx,
       json_extract_string(qsnak, '$.snaktype') AS qual_snaktype,
       {_value_case("qsnak", "$")} AS qual_value
FROM quals
""",
)
def q_wd_qualifiers(spark, sf_dir):
    """K7: qualifier flattening (stmt → qualifier snaks, position-indexed)."""
    return flatten.qualifiers_table(_latest(spark))


@query(
    "q_wd_sitelinks",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(l.line, '$.id') AS id,
       u.site AS site,
       json_extract_string(l.line, '$.sitelinks.' || u.site || '.title') AS title,
       coalesce(json_array_length(json_extract(l.line, '$.sitelinks.' || u.site || '.badges')), 0) AS n_badges
FROM latest l, unnest(coalesce(json_keys(l.line, '$.sitelinks'), [])) AS u(site)
""",
)
def q_wd_sitelinks(spark, sf_dir):
    """K8: sitelinks → (id, site, title, n_badges)."""
    return flatten.sitelinks_table(_latest(spark))


@query(
    "q_wd_coordinates",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE}
SELECT subject AS id,
       json_extract(stmt, '$.mainsnak.datavalue.value.latitude')::DOUBLE AS lat,
       json_extract(stmt, '$.mainsnak.datavalue.value.longitude')::DOUBLE AS lon
FROM stmts
WHERE property = 'P625'
  AND json_extract_string(stmt, '$.mainsnak.snaktype') = 'value'
""",
)
def q_wd_coordinates(spark, sf_dir):
    """K9: P625 globecoordinate → (id, lat, lon) — the geo use-case of a
    wikidata→PG loader [R]."""
    st = flatten.statements(_latest(spark))
    return st.filter((F.col("property") == "P625") & (F.col("snaktype") == "value")).select(
        F.col("id"),
        F.variant_get(F.col("dv"), "$.value.latitude", "double").alias("lat"),
        F.variant_get(F.col("dv"), "$.value.longitude", "double").alias("lon"),
    )


@query(
    "q_wd_edge_degree",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  edges AS (
    SELECT subject AS src, property,
           json_extract_string(stmt, '$.mainsnak.datavalue.value.id') AS dst
    FROM stmts
    WHERE json_extract_string(stmt, '$.mainsnak.datavalue.type') = 'wikibase-entityid'
  )
SELECT src, count(*) AS out_deg, count(DISTINCT property) AS n_props,
       count(DISTINCT dst) AS n_targets
FROM edges
GROUP BY src
""",
)
def q_wd_edge_degree(spark, sf_dir):
    """K10: item→item claims as an edge list + per-source degree — the graph
    surface the reference exposes via SQL joins [R]."""
    e = flatten.item_edges(_latest(spark))
    return e.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.countDistinct("property").alias("n_props"),
        F.countDistinct("dst").alias("n_targets"),
    )


@query(
    "q_wd_latest_revision",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(line, '$.id') AS id,
       json_extract(line, '$.lastrevid')::BIGINT AS lastrevid,
       json_extract_string(line, '$.labels.en.value') AS label_en
FROM latest
""",
)
def q_wd_latest_revision(spark, sf_dir):
    """K11: keep max-lastrevid version per id (idempotent re-import)."""
    p = _latest(spark)
    return p.select(
        F.col("e.id").alias("id"),
        F.col("e.lastrevid").alias("lastrevid"),
        F.col("e.labels")["en"]["value"].alias("label_en"),
    )


@query(
    "q_wd_load_postgres",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE}
SELECT 'wd_claims' AS table_name, (SELECT count(*) FROM stmts)::BIGINT AS n_rows
UNION ALL
SELECT 'wd_labels', (SELECT count(*) FROM latest l,
        unnest(coalesce(json_keys(l.line, '$.labels'), [])) AS u(lang))::BIGINT
UNION ALL
SELECT 'wd_sitelinks', (SELECT count(*) FROM latest l,
        unnest(coalesce(json_keys(l.line, '$.sitelinks'), [])) AS u(site))::BIGINT
""",
)
def q_wd_load_postgres(spark, sf_dir):
    """K12: the reference end-to-end [R] — parse dump, flatten to normalized
    tables (labels / claims / sitelinks), bulk-load each via batched JDBC
    (bundled Derby here; Postgres differs only in URL/driver — see README
    "Postgres-vs-Derby caveat" for what Derby does not exercise), read back.
    The CLI front door composing the same stages is ``python -m
    wikidata2pg_spark`` (__main__.py). Returns (table_name, n_rows) per
    loaded table — deterministic given the fixture, so hash-checked against
    CTE counts (upgraded in r2)."""
    from wikidata2pg_spark.sources.scans import _derby_url

    p = _latest(spark)
    url = _derby_url(sf_dir)
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver", "batchsize": "5000"}
    tables = {
        "wd_labels": flatten.labels_table(p),
        "wd_claims": flatten.claims_triples(p),
        "wd_sitelinks": flatten.sitelinks_table(p),
    }
    # persist the parsed/deduped layer ONCE: 3 JDBC writes + 3 read-back
    # counts would otherwise each re-execute the full text→clean→parse→
    # window lineage (six parse passes of the dump — same fix as
    # run_import's parsed.persist() in __main__.py)
    p.persist()
    try:
        counts = []
        for name, df in tables.items():
            df.write.jdbc(url, name, mode="overwrite", properties=props)
            counts.append((name, spark.read.jdbc(url, name, properties=props).count()))
    finally:
        p.unpersist()
    return spark.createDataFrame(counts, "table_name string, n_rows long")


# ---------------------------------------------------------------------------
# Graph surface extras (r2): the wikidata→PG use-case is graph queries over
# the item→item edge list; 2-hop is the join form, connected components the
# iterative form (the category SURVEY §2 previously had no key for).
# ---------------------------------------------------------------------------

_EDGES_CTE = f"""edges AS (
    SELECT subject AS src,
           json_extract_string(stmt, '$.mainsnak.datavalue.value.id') AS dst
    FROM stmts
    WHERE json_extract_string(stmt, '$.mainsnak.datavalue.type') = 'wikibase-entityid'
)"""


@query(
    "q_wd_two_hop",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  {_EDGES_CTE}
SELECT DISTINCT a.src, b.dst AS two_hop
FROM edges a JOIN edges b ON a.dst = b.src
WHERE a.src != b.dst
""",
)
def q_wd_two_hop(spark, sf_dir):
    """Graph extra: distinct 2-hop neighborhood over item→item claims — the
    SQL-join form of graph traversal (shuffles once on the hop key; at
    100 TB the edge list is pre-partitioned by src so hops co-locate)."""
    e = flatten.item_edges(_latest(spark)).select("src", "dst")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .filter(F.col("a.src") != F.col("b.dst"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("two_hop"))
        .distinct()
    )


@query(
    "q_wd_connected_components",
    oracle=f"""
WITH RECURSIVE {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  {_EDGES_CTE},
  sym(a, b) AS (
    SELECT src, dst FROM edges WHERE dst IS NOT NULL
    UNION
    SELECT dst, src FROM edges WHERE dst IS NOT NULL
  ),
  nodes(id) AS (SELECT DISTINCT a FROM sym),
  reach(a, b) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
  )
SELECT a AS id, min(b) AS component
FROM reach GROUP BY a
""",
)
def q_wd_connected_components(spark, sf_dir):
    """Iterative-algorithm extra: connected components of the item→item
    claim graph via the shared ``operators.graph.min_label_components``
    kernel (distributed min-label propagation: one join + hash-agg per
    round, only the convergence scalar reaches the driver). The oracle is
    the transitive-closure recursive CTE — tractable on the fixture, while
    the Spark form is the one that scales."""
    from wikidata2pg_spark.operators.graph import min_label_components

    e = flatten.item_edges(_latest(spark)).select("src", "dst").filter(
        F.col("dst").isNotNull()
    )
    sym = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    # Materialize the (static) symmetric edge set: every propagation round
    # joins it, and without the cut each round would re-run the dump parse.
    sym = truncate_plan(sym)
    nodes = sym.select(F.col("a").alias("id")).distinct()
    # diameter bound; the fixture converges in <=3 rounds
    labels = min_label_components(
        nodes, sym, "q_wd_connected_components", max_rounds=20
    )
    return labels.select("id", F.col("cluster").alias("component"))


@query(
    "q_wd_aliases",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE}
SELECT json_extract_string(l.line, '$.id') AS id,
       u.lang AS lang,
       g.i AS alias_idx,
       json_extract_string(l.line,
           '$.aliases.' || u.lang || '[' || g.i::VARCHAR || '].value') AS alias
FROM latest l,
     unnest(coalesce(json_keys(l.line, '$.aliases'), [])) AS u(lang),
     LATERAL (SELECT unnest(range(json_array_length(
         json_extract(l.line, '$.aliases.' || u.lang))::BIGINT))) AS g(i)
""",
)
def q_wd_aliases(spark, sf_dir):
    """Aliases flatten — the MAP<lang, ARRAY<struct>> double-nested shape
    (labels is map→struct; aliases adds the inner array): explode the map,
    then posexplode each language's alias list, keeping the position so
    the alias ordering of the dump survives normalization. One narrow
    pass, expansion inside the scan task."""
    return flatten.aliases_table(_latest(spark))


@query(
    "q_wd_label_coverage",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  lab AS (
    SELECT u.lang AS lang, count(*) AS n_labeled
    FROM latest l, unnest(coalesce(json_keys(l.line, '$.labels'), [])) AS u(lang)
    GROUP BY u.lang
  ),
  tot AS (SELECT count(*) AS n FROM latest)
SELECT lab.lang, lab.n_labeled,
       floor(lab.n_labeled * 1.0 / tot.n * 10000 + 0.5) / 10000 AS coverage
FROM lab, tot
""",
)
def q_wd_label_coverage(spark, sf_dir):
    """Per-language label coverage — the completeness dashboard every
    Wikidata consumer checks before picking fallback chains (K3). The
    entity total enters as a broadcast 1-row aggregate (no eager count),
    the per-language counts are one hash-agg over the exploded label
    keys."""
    p = _latest(spark)
    tot = p.agg(F.count(F.lit(1)).cast("double").alias("n"))
    lab = (
        p.select(F.explode(F.map_keys(F.col("e.labels"))).alias("lang"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_labeled"))
    )
    return lab.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_labeled",
        (F.floor(F.col("n_labeled") / F.col("n") * 10000 + F.lit(0.5)) / 10000).alias(
            "coverage"
        ),
    )


@query(
    "q_wd_references",
    oracle=f"""
WITH {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  refs AS (
    SELECT s.subject, s.property, s.stmt_idx, r.j AS ref_idx,
           json_extract(s.stmt, '$.references[' || r.j::VARCHAR || ']') AS ref
    FROM stmts s,
         LATERAL (SELECT unnest(range(coalesce(json_array_length(
             json_extract(s.stmt, '$.references'))::BIGINT, 0)))) AS r(j)
  ),
  rsnaks AS (
    SELECT subject, property, stmt_idx, ref_idx,
           json_extract_string(ref, '$.hash') AS ref_hash,
           u.prop AS ref_property,
           k.i AS snak_idx,
           json_extract(ref, '$.snaks.' || u.prop || '[' || k.i::VARCHAR || ']') AS snak
    FROM refs,
         unnest(coalesce(json_keys(ref, '$.snaks'), [])) AS u(prop),
         LATERAL (SELECT unnest(range(json_array_length(
             json_extract(ref, '$.snaks.' || u.prop))::BIGINT))) AS k(i)
  )
SELECT subject, property, stmt_idx, ref_idx, ref_hash, ref_property, snak_idx,
       json_extract_string(snak, '$.snaktype') AS ref_snaktype,
       {_value_case("snak", "$")} AS ref_value
FROM rsnaks
""",
)
def q_wd_references(spark, sf_dir):
    """References flatten — statement provenance (stated-in / reference-URL
    / imported-from snaks), the final piece of statement anatomy next to
    mainsnak (K4), qualifiers (K7), and rank (K6). The Wikibase shape is an
    ARRAY of reference records each holding a MAP of per-property snak
    lists — three position-preserving explodes, value dispatch through the
    same datavalue union as everywhere else."""
    return flatten.references_table(_latest(spark))


@query(
    "q_wd_subclass_closure",
    oracle=f"""
WITH RECURSIVE {entities_cte()},
  {_LATEST_CTE},
  {_STMTS_CTE},
  {_EDGES_CTE},
  e AS (SELECT DISTINCT src, dst FROM edges WHERE dst IS NOT NULL),
  reach(src, dst, depth) AS (
    SELECT src, dst, 1 FROM e
    UNION
    SELECT r.src, e.dst, r.depth + 1
    FROM reach r JOIN e ON r.dst = e.src
    WHERE r.depth < 4
  )
SELECT src, dst, min(depth)::BIGINT AS min_depth
FROM reach GROUP BY src, dst
""",
)
def q_wd_subclass_closure(spark, sf_dir):
    """Bounded-depth transitive closure (<=4 hops) over item->item claims —
    the 'all ancestors via subclass-of/instance-of chains' query every
    Wikidata consumer runs, expressed as SEMI-NAIVE iteration: each round
    joins only the newly-discovered frontier against the edge table and
    anti-joins out pairs already reached, so work per round is proportional
    to the NEW pairs, not the accumulated closure (the Datalog semi-naive
    rule, which is what makes iterative closure tractable at 100 TB —
    frontier and edges co-partition on the hop key). BFS layering means the
    first discovery of a pair is at its minimal depth, so no min-agg is
    needed on the Spark side; the DuckDB oracle states the same result
    declaratively with a depth-bounded recursive CTE + min(depth)."""
    from wikidata2pg_spark.operators.graph import semi_naive_closure

    e = (
        flatten.item_edges(_latest(spark))
        .select("src", "dst")
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    reach = semi_naive_closure(e, max_depth=4)
    return reach.select("src", "dst", F.col("depth").cast("long").alias("min_depth"))


@query(
    "q_wd_dump_diff",
    oracle=f"""
WITH {entities_cte()},
  olds(line) AS (SELECT line FROM (
    SELECT line, row_number() OVER (
      PARTITION BY json_extract_string(line, '$.id')
      ORDER BY json_extract(line, '$.lastrevid')::BIGINT DESC, line DESC) AS rn
    FROM ent WHERE json_extract(line, '$.lastrevid')::BIGINT <= 99) WHERE rn = 1),
  news(line) AS (SELECT line FROM (
    SELECT line, row_number() OVER (
      PARTITION BY json_extract_string(line, '$.id')
      ORDER BY json_extract(line, '$.lastrevid')::BIGINT DESC, line DESC) AS rn
    FROM ent) WHERE rn = 1),
  o AS (SELECT json_extract_string(line, '$.id') AS id,
               json_extract(line, '$.lastrevid')::BIGINT AS rev,
               coalesce(json_keys(line, '$.labels'), []) AS lk,
               (SELECT coalesce(sum(json_array_length(
                    json_extract(line, '$.claims.' || p))), 0)
                FROM unnest(coalesce(json_keys(line, '$.claims'), [])) AS t(p))
                 AS nc
        FROM olds WHERE json_extract_string(line, '$.id') IS NOT NULL),
  n AS (SELECT json_extract_string(line, '$.id') AS id,
               json_extract(line, '$.lastrevid')::BIGINT AS rev,
               coalesce(json_keys(line, '$.labels'), []) AS lk,
               (SELECT coalesce(sum(json_array_length(
                    json_extract(line, '$.claims.' || p))), 0)
                FROM unnest(coalesce(json_keys(line, '$.claims'), [])) AS t(p))
                 AS nc
        FROM news WHERE json_extract_string(line, '$.id') IS NOT NULL)
SELECT coalesce(n.id, o.id) AS id,
       CASE WHEN o.id IS NULL THEN 'added'
            WHEN n.id IS NULL THEN 'removed'
            WHEN n.rev = o.rev THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.rev AS old_rev, n.rev AS new_rev,
       CAST(len(list_filter(coalesce(n.lk, []),
                k -> NOT list_contains(coalesce(o.lk, []), k))) AS BIGINT)
         AS labels_added,
       CAST(len(list_filter(coalesce(o.lk, []),
                k -> NOT list_contains(coalesce(n.lk, []), k))) AS BIGINT)
         AS labels_removed,
       CAST(coalesce(n.nc, 0) - coalesce(o.nc, 0) AS BIGINT) AS claims_delta
FROM n FULL OUTER JOIN o ON n.id = o.id
""",
)
def q_wd_dump_diff(spark, sf_dir):
    """Incremental-dump diff — the update workflow of a dump importer:
    given yesterday's snapshot (here: latest revision per id with
    lastrevid <= 99) and today's full dump, classify every entity as
    added / removed / changed / unchanged and quantify the change
    (label languages added/removed, statement-count delta). One parse
    feeds both snapshots; the diff is a single full outer join on id.
    At dump scale both snapshot dedups shuffle on id and the join reuses
    that partitioning, so the whole diff is one exchange over the dump
    plus map-side JSON work. The fixture has no 'removed' row (a
    cutoff snapshot is always a subset) — the branch is exercised in
    tests/test_wikidata.py with a synthetic deletion instead."""
    parsed = _parsed(spark)
    return flatten.dump_diff(parsed, parsed.filter(F.col("e.lastrevid") <= 99))
