"""config.properties loader + offline SemiAutomaticTEIAnnotation parity."""

import textwrap

import pytest

from reden_spark.plans.properties import load_properties, nel_config_from_properties

REFERENCE_SHAPED = textwrap.dedent(
    """\
    #CONFIG NAMED ENTITY LINKING
    #1) namedEntityTag ...
    namedEntityTag=persName[not(@type='character')]
    #2) NERclassName ...
    NERclassName=PER
    #3) baseURIs ...
    baseURIs= http://kb.test/base/, http://other.kb/
    #4)
    centralityMeasure=DegreeCentrality
    #5)
    useDicoIndex=true
    #6)
    indexDir=dico/indexedDictionary/PER-31012016/
    #7)
    preferedURIOrder=ALL
    #8) (deprecated)
    useGlobalCentrality=false
    #9)
    nameMainFolderDico= dico/dictionary/PER-31012016/
    #10)
    rdfData=data
    #11)
    propertyTagRef=ref_auto
    #12)
    xpathExpresion=//body/div
    #13)
    addScores=false
    #14)
    crawlSameAs=ALL
    #15)
    sameAsproperty=http://www.w3.org/2002/07/owl#sameAs
    #16)
    KBsLocalNoNetwork=true

    #CONFIG LINKED DATA CRAWLER
    outDictionnaireDir=dico/dictionary/PER-05022016TEST
    greaterThan=-1
    lesserThan=01/01/1900
    spatialExtent=
    """
)


def test_load_properties_parses_reference_shape(tmp_path):
    f = tmp_path / "config.properties"
    f.write_text(REFERENCE_SHAPED)
    props = load_properties(f)
    assert props["namedEntityTag"] == "persName[not(@type='character')]"
    assert props["baseURIs"] == "http://kb.test/base/, http://other.kb/"
    assert props["preferedURIOrder"] == "ALL"
    assert props["lesserThan"] == "01/01/1900"
    assert props["spatialExtent"] == ""
    assert len(props) == 20  # 16 NEL keys + 4 crawler keys


def test_load_properties_continuation_and_colon(tmp_path):
    f = tmp_path / "c.properties"
    f.write_text("a=1\\\n2\nb: with spaces \n! bang comment\n")
    props = load_properties(f)
    assert props == {"a": "12", "b": "with spaces"}


def test_nel_config_from_properties(tmp_path):
    f = tmp_path / "config.properties"
    f.write_text(REFERENCE_SHAPED)
    cfg, dropped = nel_config_from_properties(f)
    assert cfg.base_prefix == "http://kb.test/base/"  # first baseURIs value
    assert cfg.preferred_uri == "ALL"
    assert cfg.centrality == "DegreeCentrality"
    assert cfg.crawl_sameas == "ALL"
    # every key the rebuild does not read is dropped, with a documented reason
    assert set(dropped) == {
        "namedEntityTag",
        "NERclassName",
        "useDicoIndex",
        "indexDir",
        "useGlobalCentrality",
        "nameMainFolderDico",
        "rdfData",
        "propertyTagRef",
        "xpathExpresion",
        "addScores",
        "KBsLocalNoNetwork",
        "outDictionnaireDir",
        "greaterThan",
        "lesserThan",
        "spatialExtent",
    }
    assert all(dropped.values())
    # 20 keys: the 4 NELConfig keys, sameAsproperty (checked, not stored) and 15 dropped
    assert len(dropped) + 5 == len(load_properties(f))


def test_nel_config_rejects_other_sameas_predicate(tmp_path):
    """The links kernel, its KB slice and canonicalization all read owl:sameAs,
    so another sameAs predicate is refused, not half honoured."""
    f = tmp_path / "skos.properties"
    f.write_text(REFERENCE_SHAPED.replace("owl#sameAs", "skos#exactMatch"))
    with pytest.raises(ValueError, match="sameAsproperty"):
        nel_config_from_properties(f)


def test_nel_config_requires_base(tmp_path):
    f = tmp_path / "bad.properties"
    f.write_text("preferedURIOrder=ALL\n")
    with pytest.raises(ValueError, match="baseURIs"):
        nel_config_from_properties(f)


def test_preannotate_offline_equivalences(spark):
    """SemiAutomaticTEIAnnotation restated offline: ref_new lists the gold
    URI's equivalence-class members in the target base; isolated base URIs
    keep themselves; URIs with no base-KB equivalent get NULL."""
    from reden_spark.operators.canonicalize import connected_components, sameas_edge_frame
    from reden_spark.operators.preannotate import preannotate

    base = "http://kb.test/base/"
    gold = spark.createDataFrame(
        [
            ("c1", 0, 0, "Hugo", "http://ext.kb/h1"),     # chained into base/e1, base/e2
            ("c1", 1, 0, "Roche", "http://kb.test/base/e9"),  # isolated base URI -> itself
            ("c2", 0, 0, "Nil", "http://ext.kb/orphan"),  # no base equivalent -> NULL
        ],
        "conv_id string, turn_idx int, occ_idx int, mention string, gold_uri string",
    )
    kb_edges = spark.createDataFrame(
        [
            ("http://ext.kb/h1", "http://www.w3.org/2002/07/owl#sameAs", "http://kb.test/base/e1", 1.0),
            ("http://kb.test/base/e1", "http://purl.org/other", "http://kb.test/base/zzz", 1.0),
        ],
        "subj string, pred string, obj string, weight double",
    )
    dico = spark.createDataFrame(
        [("hugo", "Hugo", ["http://kb.test/base/e1", "http://kb.test/base/e2"])],
        "alias_norm string, alias string, uris array<string>",
    )
    canon = connected_components(sameas_edge_frame(kb_edges, dico))
    out = {r.mention: r.ref_new for r in preannotate(gold, canon, base).collect()}
    assert out["Hugo"] == "http://kb.test/base/e1 http://kb.test/base/e2"
    assert out["Roche"] == "http://kb.test/base/e9"
    assert out["Nil"] is None
