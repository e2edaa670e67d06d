"""Dictionary-build job — the Spark restatement of the reference's Linked-Data
crawl mode (`-createDico`, AppAdhoc.crawlsLinkedData, AppAdhoc.java:49-292).

The remote SPARQL extraction becomes a batch job over an offline person-entity
table; the reference's hand-rolled tactics map to built-ins (SURVEY.md §4):

  * a-z + 'other' letter sharding (AppAdhoc.java:70-74)  -> a `letter` partition
    column (partition pruning replaces skip-if-shard-file-exists memoization);
  * birth/death date domain filter (QueryAuthorBNF.java:69-85, loadDomainParams
    AppAdhoc.java:301-324)                               -> pushed-down range filter;
  * per-author row merge of sameAs refs + rejected forms
    (QueryAuthorBNF.processResults :161-240)             -> groupBy(uri).agg(collect_set);
  * ~15 alias surface forms per author (AuthorBNF.makeAliases :138-192)
                                                          -> vectorized pandas UDF + explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.aliases import aliases_udf
from ..functions.text import clean_label, normalize_mention, year_from_date

# The values the reference's SPARQL queries hard-code: the label language
# (``langMatches(lang(?x),'FR')``), the DBpedia sameAs inclusion prefix
# (``FILTER regex(str(?otherLinks),'^http://dbpedia.org/')``) and the Getty
# vocabulary that exactMatch refs must leave
# (``!regex(STR(?ref),'^http://vocab.getty.edu')``).
LANG = "fr"
DBPEDIA = "http://dbpedia.org/"
GETTY = "http://vocab.getty.edu"


def _letter(col: str):
    """The a-z + 'other' letter shard of a column's first character
    (AppAdhoc.java:70-74); each source shards on its own name column."""
    first = F.lower(F.substring(F.col(col), 1, 1))
    return F.when(first.rlike("^[a-z]$"), first).otherwise(F.lit("other"))


def _person_rows(merged: DataFrame, aliases, name) -> DataFrame:
    """Person dictionary rows from per-URI rows (uri, refs, letter, ...): one
    per non-empty alias of the array `aliases`, with `name` as the display
    name and uris = the URI followed by its sameAs refs."""
    return (
        merged.withColumn("uris", F.concat(F.array("uri"), "refs"))
        .select(
            F.explode(aliases).alias("alias"),
            name.alias("name"),
            F.lit("PER").alias("ne_type"),
            "uris",
            "letter",
        )
        .filter(F.col("alias") != "")
        .withColumn("alias_norm", normalize_mention("alias"))
        .select("alias", "alias_norm", "name", "ne_type", "uris", "letter")
    )


def build_dico(
    persons: DataFrame,
    greater_than: int | None = None,
    lesser_than: int | None = None,
) -> DataFrame:
    """kb_persons -> DICO frame (+ `letter` shard column for partitioned writes)."""
    p = persons.withColumn("birth_year", year_from_date("birth_date"))
    if greater_than is not None:
        p = p.filter(F.col("birth_year") > greater_than)
    if lesser_than is not None:
        p = p.filter(F.col("birth_year") < lesser_than)

    p = p.withColumn("letter", _letter("last_name"))

    merged = p.groupBy("uri").agg(
        F.first("first_name", ignorenulls=True).alias("first_name"),
        F.first("last_name", ignorenulls=True).alias("last_name"),
        F.first("gender", ignorenulls=True).alias("gender"),
        F.first("birth_date", ignorenulls=True).alias("birth_date"),
        F.first("death_date", ignorenulls=True).alias("death_date"),
        F.first("letter", ignorenulls=True).alias("letter"),
        F.array_sort(F.collect_set("ref")).alias("refs"),
        # rejected forms are truncated at '(' + trimmed before dedup
        # (QueryAuthorBNF.java:176-178; BNE does the same at :184-186 —
        # Getty keeps alt labels verbatim, see build_getty_dico)
        F.array_sort(F.collect_set(clean_label("rejected_form"))).alias("rejected_forms"),
    )

    # display name "Last, First (birth-death)" (AuthorBNF.getNormalisedName :93-105)
    name = F.when(
        F.col("first_name").isNull() | F.col("first_name").isin("-", ""),
        F.col("last_name"),
    ).otherwise(F.concat_ws(", ", "last_name", "first_name"))
    name = F.regexp_replace(name, "'", "' ")
    name = F.when(
        F.col("birth_date").isNotNull() & F.col("death_date").isNotNull(),
        F.concat(name, F.lit(" ("), "birth_date", F.lit("-"), "death_date", F.lit(")")),
    ).otherwise(name)
    name = F.regexp_replace(name, "  ", " ")

    with_aliases = merged.withColumn(
        "all_aliases",
        F.array_union(
            aliases_udf("first_name", "last_name", "gender"),
            F.col("rejected_forms"),
        ),
    )
    return _person_rows(with_aliases, F.col("all_aliases"), name)


def build_bne_dico(authors: DataFrame) -> DataFrame:
    """BNE author-catalog dictionary builder — the semantics that differ from
    the BNF/Getty family (QueryAuthorBNE.java:60-243, AuthorBNE.java:35-71):

      * has-work gate: only catalogued authors (``?author ns2:OP5001 ?work``,
        QueryAuthorBNE.java:77) -> ``n_works > 0``;
      * letter shard on the WHOLE accepted form (the SPARQL filterRegex on
        ``STR(?acceptedForm)``, :66-71; BNF shards on the last name), with the
        'other' bucket for non-a-z initials;
      * NO alias generation: emitted aliases are the rejected forms ONLY —
        writeAuthorToFile (:231-241) iterates ``getRejectedForms``; the
        accepted form itself is never emitted, and an author with no rejected
        forms yields no dictionary rows. Each rejected form is truncated at
        '(' + trimmed (:184-186) and deduplicated per author (:206-208);
      * display name = accepted form with '-' -> ' ' + trim
        (AuthorBNE.setLastname :40) then "'" -> "' " and double-space collapse
        (getNormalisedName :67-70);
      * uris = author URI followed by the sameAs refs (:232-237).

    Expects an offline dump (uri, accepted_form, rejected_form, ref, n_works)
    with one row per (rejected_form, ref) combination, as a SPARQL result set
    yields them."""
    a = authors.filter(F.col("n_works") > 0)
    a = a.withColumn("letter", _letter("accepted_form"))

    merged = a.groupBy("uri").agg(
        F.first("accepted_form", ignorenulls=True).alias("accepted_form"),
        F.first("letter", ignorenulls=True).alias("letter"),
        F.array_sort(F.collect_set("ref")).alias("refs"),
        F.array_sort(F.collect_set(clean_label("rejected_form"))).alias("rejected_forms"),
    )
    name = F.trim(F.translate("accepted_form", "-", " "))
    name = F.regexp_replace(F.regexp_replace(name, "'", "' "), "  ", " ")
    return _person_rows(merged, F.col("rejected_forms"), name)


def build_dbpediafr_person_dico(persons: DataFrame) -> DataFrame:
    """DBpedia-fr person dictionary builder (QueryPersonDBpediafr.java:56-215,
    AuthorDBpediaFr.java:6-71). Expects an offline dump
    (uri, label, label_lang, redirect_label, redirect_lang, sameas) with one
    row per SPARQL result row. Distinct semantics:

      * language filter on the primary rdfs:label AND on wikiPageRedirects
        labels (``langMatches(lang(?x),'FR')``, :79,83);
      * letter shard on the raw primary label (filterRegex on ?labelfr, :65-70);
      * NO alias generation: the PRIMARY label itself is emitted VERBATIM as an
        alias (processResults adds ?labelfr to rejectedForms untruncated,
        :171-173) while each REDIRECT label is truncated at '(' + trimmed
        (:146-149,178-181) — the two label kinds get different cleanup;
      * owl:sameAs refs kept only under `DBPEDIA` — a prefix INCLUSION
        filter (``FILTER regex(str(?otherLinks),'^http://dbpedia.org/')``,
        :85), the opposite polarity of Getty's own-vocab exclusion;
      * display name = label with '-' -> ' ' + trim (setLastname :39-40),
        then "'" -> "' " + double-space collapse (getNormalisedName :66-69);
        no (birth-death) suffix (the date filter is a TODO, :88).
    """
    p = persons.filter(F.lower(F.col("label_lang")) == LANG)
    p = p.withColumn("letter", _letter("label"))

    kept_ref = F.when(F.col("sameas").startswith(DBPEDIA), F.col("sameas"))
    redirect = F.when(F.lower(F.col("redirect_lang")) == LANG, clean_label("redirect_label"))
    merged = p.groupBy("uri").agg(
        F.first("label", ignorenulls=True).alias("label"),
        F.first("letter", ignorenulls=True).alias("letter"),
        F.array_sort(F.collect_set(kept_ref)).alias("refs"),
        F.array_sort(F.collect_set(redirect)).alias("redirects"),
    )

    name = F.trim(F.translate("label", "-", " "))
    name = F.regexp_replace(F.regexp_replace(name, "'", "' "), "  ", " ")
    return _person_rows(merged, F.array_union(F.array("label"), "redirects"), name)


GETTY_FEMALE_CODE = "http://vocab.getty.edu/aat/300189557"


def build_getty_dico(concepts: DataFrame) -> DataFrame:
    """Getty ULAN person-concept dictionary builder
    (QueryArtPersonalityGetty.java:60-252; Personality class :254-420).
    Expects an offline dump (uri, pref_label, alt_label, ref, gender) with one
    row per SPARQL result row. What differs from the BNF family:

      * the name arrives as ONE skos:prefLabel "Last, First" — comma-split
        (:183-195); a label with no comma has no first name ('-', which the
        setters' '-' -> ' ' + trim turn into ''), so only last-name alias
        forms are generated;
      * sameAs refs are skos:exactMatch targets with the Getty vocabulary
        itself EXCLUDED (the SPARQL ``!regex(STR(?ref),'^http://vocab.getty.edu')``
        filter, :107) -> drop refs starting with `GETTY`;
      * gender is an AAT concept code: the female code picks the 'Mme' title
        in alias generation, anything else (incl. missing) picks 'M'
        (Personality.getTitle :287-293);
      * alt labels become rejected forms VERBATIM — no truncate-at-'(' and no
        trim (processResults :172-186; contrast BNF :176-178, BNE :184-186);
      * the display name carries no (birth-death) suffix — the model has no
        usable dates (the which-birthdate TODO at :110-112);
      * letter shard on the full prefLabel (the ?nom filterRegex :90-95), not
        on the split last name.
    """
    g = concepts.withColumn("letter", _letter("pref_label"))

    parts = F.split(F.col("pref_label"), ",")
    # Personality.setLastname/setFirstname: '-' -> ' ' then trim (:276,281);
    # F.get returns NULL past the end (no-comma labels) -> first_name ''.
    last = F.trim(F.translate(F.get(parts, 0), "-", " "))
    first = F.trim(F.translate(F.coalesce(F.get(parts, 1), F.lit("")), "-", " "))
    kept_ref = F.when(~F.col("ref").startswith(GETTY), F.col("ref"))
    g = g.withColumn("last_name", last).withColumn("first_name", first)

    merged = g.groupBy("uri").agg(
        F.first("first_name", ignorenulls=True).alias("first_name"),
        F.first("last_name", ignorenulls=True).alias("last_name"),
        F.first("gender", ignorenulls=True).alias("gender"),
        F.first("letter", ignorenulls=True).alias("letter"),
        F.array_sort(F.collect_set(kept_ref)).alias("refs"),
        F.array_sort(F.collect_set("alt_label")).alias("alt_forms"),
    )

    # "Last, First" with "'" -> "' " + double-space collapse, no dates
    # (Personality.getNormalisedName :349-358)
    name = F.when(
        F.col("first_name").isNull() | F.col("first_name").isin("-", ""),
        F.col("last_name"),
    ).otherwise(F.concat_ws(", ", "last_name", "first_name"))
    name = F.regexp_replace(F.regexp_replace(name, "'", "' "), "  ", " ")

    gender_word = F.when(F.col("gender") == GETTY_FEMALE_CODE, F.lit("female")).otherwise(
        F.lit("male")
    )
    with_aliases = merged.withColumn(
        "all_aliases",
        F.array_union(
            aliases_udf("first_name", "last_name", gender_word),
            F.col("alt_forms"),
        ),
    )
    return _person_rows(with_aliases, F.col("all_aliases"), name)


def build_place_dico(places: DataFrame) -> DataFrame:
    """Place-source dictionary builder — the LOC twin of :func:`build_dico`
    (QueryPlaceDBpedia.java:60-205; QueryPlaceWikiData.java:62-143; the same
    PlaceEntry pref/alt-with-fallback/uri shape covers QueryPlaceBNF.java:64-140
    and QueryPlaceLinkedGeoData.java:69-143). Expects an
    offline place dump with columns
    (uri, label, label_lang, alt_label, alt_lang, is_place, lat, lon, sameas).

      * language filter ``langMatches(lang(?label),'FR')``
        (QueryPlaceDBpedia.java:103,107) -> lower(label_lang) == `LANG`, applied
        to the primary label AND to alt/redirect labels (the reference repeats
        the filter inside each OPTIONAL block);
      * a-z + 'other' letter shard on the primary label (the filterRegex,
        :70-75) -> `letter` partition column;
      * type gate (rdf:type db-owl:Place UNION fiction-city category on
        DBpedia; has-coordinates on WikiData) -> the caller derives a boolean
        `is_place` from whatever its dump encodes;
      * sameAs targets restricted by prefix (FILTER regex '^http://dbpedia.org/',
        :109-110); the reference queries ?otherLinks but never writes it — the
        rebuild keeps them in `uris` (documented improvement);
      * one dico row per alias: the primary label itself (the reference's
        main-page PlaceEntry) + every lang-matching alt label (redirect/altLabel
        PlaceEntry), deduplicated like processResults' contains-checks;
      * merge-by-URI before emitting aliases: SPARQL endpoints return one result
        row per OPTIONAL binding (a place with 3 alt labels and 2 sameAs links
        arrives as up to 6 rows), so alt labels and sameAs targets are folded
        into per-URI sets first — exactly the contains-dedup the reference's
        processResults applies across result rows, and the same
        groupBy('uri') + collect_set shape as the author builders. Without it,
        each partial row would emit its own `uris` array and one real place
        would split into several candidate groups downstream;
      * lat/lon carried as typed columns: coordinate extraction happens once at
        build time instead of the per-URI enrichment re-crawl
        (GeodataGeneration.java:32-72).
    """
    p = places.filter(F.col("is_place")).filter(F.lower(F.col("label_lang")) == LANG)
    clean_sameas = F.when(F.col("sameas").startswith(DBPEDIA), F.col("sameas"))
    alt_ok = F.when(F.lower(F.col("alt_lang")) == LANG, F.col("alt_label"))
    # representative (label, lat, lon) is one struct-min — a COHERENT binding
    # row, never min(label) of one row paired with min(lat) of another (a
    # place with two coordinate bindings must not emit a point from neither).
    # Coordinate-BEARING bindings sort first (struct nulls would otherwise sort
    # first and a single null-coord OPTIONAL row would strip the place's
    # coordinates); nulls ride as an +inf sentinel so both engines order alike.
    inf = F.lit(float("inf"))
    coord_missing = F.col("lat").isNull() | F.col("lon").isNull()
    rep_key = F.struct(
        coord_missing.alias("m"),
        F.col("label").alias("label"),
        F.coalesce(F.col("lat"), inf).alias("klat"),
        F.coalesce(F.col("lon"), inf).alias("klon"),
    )
    merged = p.groupBy("uri").agg(
        F.min(rep_key).alias("rep"),
        F.array_sort(F.collect_set(clean_sameas)).alias("sameas_refs"),
        F.array_sort(F.collect_set(alt_ok)).alias("alt_labels"),
    ).select(
        "uri",
        F.col("rep.label").alias("label"),
        F.when(F.col("rep.klat") != inf, F.col("rep.klat")).alias("lat"),
        F.when(F.col("rep.klon") != inf, F.col("rep.klon")).alias("lon"),
        "sameas_refs",
        "alt_labels",
    )
    merged = merged.withColumn("letter", _letter("label"))

    return (
        merged.withColumn("uris", F.concat(F.array("uri"), "sameas_refs"))
        .select(
            F.explode(F.array_union(F.array("label"), "alt_labels")).alias("alias"),
            F.col("label").alias("name"),
            "uris",
            "letter",
            "lat",
            "lon",
        )
        .filter(F.col("alias") != "")
        .select(
            "alias",
            normalize_mention("alias").alias("alias_norm"),
            "name",
            F.lit("LOC").alias("ne_type"),
            "uris",
            "letter",
            "lat",
            "lon",
        )
    )


def geonames_to_dico(raw: DataFrame) -> DataFrame:
    """Geonames dump -> dictionary rows: one row per primary + alternate name
    (scripts/genGeonamesDico.py:21-39 — Python-2 tab-split script restated as
    select + explode(split(alternatenames, ','))). Expects columns
    (geonameid, name, alternatenames)."""
    uri = F.concat(F.lit("http://sws.geonames.org/"), F.col("geonameid").cast("string"), F.lit("/"))
    base = raw.select(uri.alias("uri"), "name", "alternatenames")
    # empty-alias filter covers BOTH branches (a dump row with a blank primary
    # name must not emit an alias='' dico row; matches the DuckDB oracle which
    # filters the union)
    names = (
        base.select("uri", F.col("name").alias("alias"))
        .unionByName(
            base.select(
                "uri",
                F.explode(F.split(F.coalesce("alternatenames", F.lit("")), ",")).alias("alias"),
            )
        )
        .filter(F.col("alias") != "")
    )
    return names.select(
        "alias",
        normalize_mention("alias").alias("alias_norm"),
        F.col("alias").alias("name"),
        F.lit("LOC").alias("ne_type"),
        F.array("uri").alias("uris"),
    ).distinct()
