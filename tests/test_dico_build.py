"""Dictionary-build job (plans/dico_build.py)."""

from reden_spark.plans.dico_build import build_bne_dico, build_dico


def test_build_dico_rules(spark, tables):
    dico = build_dico(tables["kb_persons"])
    rows = dico.collect()
    assert len(rows) > 100
    by_alias = {}
    for r in rows:
        by_alias.setdefault(r.alias, []).append(r)
    # alias generation rules present
    assert "Victor Hugo" in by_alias and "M. Hugo" in by_alias
    hugo = by_alias["Victor Hugo"][0]
    assert hugo.name.startswith("Hugo, Victor (")
    assert hugo.uris[0] == "http://kb.test/base/per/hugo"
    # sameAs refs merged into the URI group (QueryAuthorBNF.processResults)
    assert "http://ext.kb/hugo" in hugo.uris
    # rejected forms become aliases
    assert "Hugo, Victor" in by_alias
    # letter sharding incl. 'other'
    letters = {r.letter for r in rows}
    assert "h" in letters and letters <= set("abcdefghijklmnopqrstuvwxyz") | {"other"}


def test_build_dico_date_domain_filter(spark, tables):
    # birth-date domain filter (QueryAuthorBNF.java:69-85)
    dico = build_dico(tables["kb_persons"], greater_than=1840, lesser_than=1860)
    names = {r.alias for r in dico.collect()}
    assert "Arthur Rimbaud" in names  # born 1854
    assert "Victor Hugo" not in names  # born 1802


def test_build_bne_dico_rules(spark):
    """BNE-source semantics (QueryAuthorBNE.java:60-243, AuthorBNE.java:35-71):
    rejected-forms-only aliases, has-work gate, '(' truncation, hyphen and
    apostrophe display-name normalization, whole-form letter shard."""
    rows = [
        # merged across two result rows; paren suffix truncated; hyphen in name
        ("http://kb.test/bne/a1", "Garcia-Lorca", "Federico (poeta)", "http://ext.kb/a1", 3),
        ("http://kb.test/bne/a1", "Garcia-Lorca", "F. Garcia", None, 3),
        # apostrophe display-name normalization; 'other' letter bucket
        ("http://kb.test/bne/a2", "3D'Annunzio", "Gabriele", None, 1),
        # no rejected forms at all -> NO dico rows (writeAuthorToFile :238-241)
        ("http://kb.test/bne/a3", "Cervantes", None, "http://ext.kb/a3", 2),
        # has-work gate drops n_works = 0
        ("http://kb.test/bne/a4", "Quevedo", "Francisco", None, 0),
    ]
    authors = spark.createDataFrame(
        rows, "uri string, accepted_form string, rejected_form string, ref string, n_works int"
    )
    d = {r.alias: r for r in build_bne_dico(authors).collect()}
    assert set(d) == {"Federico", "F. Garcia", "Gabriele"}
    a1 = d["Federico"]
    assert a1.name == "Garcia Lorca" and a1.letter == "g"
    assert list(a1.uris) == ["http://kb.test/bne/a1", "http://ext.kb/a1"]
    a2 = d["Gabriele"]
    assert a2.name == "3D' Annunzio" and a2.letter == "other"


def test_build_getty_dico_rules(spark):
    """Getty ULAN semantics (QueryArtPersonalityGetty.java:60-252, Personality
    :254-420): prefLabel comma-split, own-vocab exactMatch exclusion, AAT
    gender code -> Mme/M title, alt labels kept verbatim (NO '(' truncation),
    no (birth-death) suffix, letter shard on the full prefLabel."""
    from reden_spark.plans.dico_build import GETTY_FEMALE_CODE, build_getty_dico

    male = "http://vocab.getty.edu/aat/300189559"
    rows = [
        # two result rows merged; getty exactMatch excluded, external kept;
        # alt label with '(' kept verbatim
        ("http://vocab.getty.edu/ulan/1", "Gogh, Vincent van", "Vincent (painter)",
         "http://vocab.getty.edu/aat/x1", male),
        ("http://vocab.getty.edu/ulan/1", "Gogh, Vincent van", None,
         "http://ext.kb/ulan/1", male),
        # female AAT code -> Mme title; hyphen in split names -> ' '
        ("http://vocab.getty.edu/ulan/2", "Vigee-Le Brun, Elisabeth", None, None,
         GETTY_FEMALE_CODE),
        # no comma -> last-name-only alias forms; digit initial -> 'other'
        ("http://vocab.getty.edu/ulan/3", "3Rembrandt", None, None, None),
    ]
    concepts = spark.createDataFrame(
        rows, "uri string, pref_label string, alt_label string, ref string, gender string"
    )
    d = build_getty_dico(concepts)
    by_alias = {}
    for r in d.collect():
        by_alias.setdefault(r.alias, []).append(r)

    gogh = by_alias["Vincent van Gogh"][0]
    assert gogh.name == "Gogh, Vincent van" and gogh.letter == "g"  # no date suffix
    assert list(gogh.uris) == ["http://vocab.getty.edu/ulan/1", "http://ext.kb/ulan/1"]
    assert "Vincent (painter)" in by_alias  # verbatim alt, not truncated
    assert "M. Gogh" in by_alias and "V Gogh" in by_alias
    # female code picks Mme; hyphenated last name splits to spaces
    assert "Mme Vigee Le Brun" in by_alias and "M Vigee Le Brun" not in by_alias
    assert by_alias["Mme Vigee Le Brun"][0].name == "Vigee Le Brun, Elisabeth"
    # no-comma label: only last-name forms, letter bucket 'other'
    remb = by_alias["3Rembrandt"][0]
    assert remb.letter == "other"
    assert "M 3Rembrandt" in by_alias
    assert not any(a.startswith("M ") and a.endswith(" 3Rembrandt") and len(a.split()) > 2
                   for a in by_alias)


def test_build_dbpediafr_person_dico_rules(spark):
    """DBpedia-fr person semantics (QueryPersonDBpediafr.java:56-215): FR lang
    filter on primary + redirect labels, primary label verbatim vs redirect
    truncated at '(', sameAs prefix INCLUSION, hyphen display-name cleanup."""
    from reden_spark.plans.dico_build import build_dbpediafr_person_dico

    rows = [
        # merge across two result rows; redirect truncated; dbpedia ref kept,
        # wikidata ref dropped (prefix inclusion)
        ("http://fr.dbpedia.org/resource/p1", "Arthur Rimbaud (poete)", "fr",
         "Rimbaud (Jean Arthur)", "fr", "http://dbpedia.org/resource/Rimbaud"),
        ("http://fr.dbpedia.org/resource/p1", "Arthur Rimbaud (poete)", "fr",
         "A. Rimbaud", "fr", "http://www.wikidata.org/entity/Q101"),
        # non-fr redirect dropped; hyphenated label -> spaced display name
        ("http://fr.dbpedia.org/resource/p2", "Saint-John Perse", "fr",
         "Alexis Leger", "en", None),
        # non-fr primary label -> row dropped entirely
        ("http://fr.dbpedia.org/resource/p3", "Victor Hugo", "en", None, None, None),
    ]
    persons = spark.createDataFrame(
        rows,
        "uri string, label string, label_lang string, redirect_label string, "
        "redirect_lang string, sameas string",
    )
    d = {r.alias: r for r in build_dbpediafr_person_dico(persons).collect()}
    # primary label emitted VERBATIM (no '(' truncation); redirect truncated
    assert set(d) == {"Arthur Rimbaud (poete)", "Rimbaud", "A. Rimbaud", "Saint-John Perse"}
    p1 = d["Rimbaud"]
    assert list(p1.uris) == [
        "http://fr.dbpedia.org/resource/p1",
        "http://dbpedia.org/resource/Rimbaud",
    ]
    assert p1.name == "Arthur Rimbaud (poete)" and p1.letter == "a"
    p2 = d["Saint-John Perse"]
    assert p2.name == "Saint John Perse" and p2.letter == "s"
    assert list(p2.uris) == ["http://fr.dbpedia.org/resource/p2"]


def test_build_place_dico_merges_multi_row_dumps(spark):
    """A place arriving as several SPARQL result rows (one per OPTIONAL
    alt-label / sameAs binding) folds into per-URI sets: every alias row of the
    place carries the FULL uris array (uri first, sameAs targets sorted), and
    the alias set is the union across bindings — not one partial row each."""
    from reden_spark.plans.dico_build import build_place_dico

    schema = (
        "uri string, label string, label_lang string, alt_label string, alt_lang string, "
        "is_place boolean, lat double, lon double, sameas string"
    )
    rows = [
        ("u1", "Paris", "fr", None, None, True, 48.85, 2.35, "http://dbpedia.org/resource/Paris"),
        ("u1", "Paris", "fr", "Lutèce", "fr", True, 48.85, 2.35, "http://other.kb/P1"),
        ("u1", "Paris", "fr", "Paname", "fr", True, 48.85, 2.35, "http://dbpedia.org/resource/VL"),
        ("u1", "Paris", "fr", "City of Light", "en", True, 48.85, 2.35, None),
        ("u2", "Lyon", "fr", None, None, True, 45.76, 4.83, None),
    ]
    out = build_place_dico(spark.createDataFrame(rows, schema)).collect()

    paris = [r for r in out if "u1" in r.uris]
    assert sorted(r.alias for r in paris) == ["Lutèce", "Paname", "Paris"]
    # every Paris alias row carries the complete merged uris array
    assert {tuple(r.uris) for r in paris} == {
        ("u1", "http://dbpedia.org/resource/Paris", "http://dbpedia.org/resource/VL")
    }
    assert all(r.name == "Paris" and r.letter == "p" and r.lat == 48.85 for r in paris)

    lyon = [r for r in out if "u2" in r.uris]
    assert len(lyon) == 1 and lyon[0].alias == "Lyon" and list(lyon[0].uris) == ["u2"]


def test_build_place_dico_prefers_coordinate_bearing_binding(spark):
    """A null-coord OPTIONAL binding row must not strip a place's coordinates:
    the struct-min representative orders coordinate-bearing rows first."""
    from reden_spark.plans.dico_build import build_place_dico

    schema = (
        "uri string, label string, label_lang string, alt_label string, alt_lang string, "
        "is_place boolean, lat double, lon double, sameas string"
    )
    rows = [
        ("u1", "Paris", "fr", "Lutèce", "fr", True, None, None, None),
        ("u1", "Paris", "fr", None, None, True, 48.85, 2.35, None),
        ("u2", "Nulle", "fr", None, None, True, None, None, None),
    ]
    out = build_place_dico(spark.createDataFrame(rows, schema)).collect()
    paris = [r for r in out if "u1" in r.uris]
    assert paris and all(r.lat == 48.85 and r.lon == 2.35 for r in paris)
    nulle = [r for r in out if "u2" in r.uris]
    assert len(nulle) == 1 and nulle[0].lat is None and nulle[0].lon is None
