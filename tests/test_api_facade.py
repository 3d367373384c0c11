"""RegistryAnalytics facade: the reference's endpoint surface as methods."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from axonops_schema_registry_spark.api import RegistryAnalytics
from axonops_schema_registry_spark.registry.model import (
    AVRO_USER_V1,
    AVRO_USER_V2,
    AVRO_USER_V2_BAD,
    AVRO_USER_V3,
    JSON_USER_V1,
    JSON_USER_V2,
    fixture_schemas,
)


@pytest.fixture(scope="module")
def reg(spark):
    return RegistryAnalytics(spark, fixture_schemas(spark))


@pytest.fixture(scope="module")
def corpus_reg(spark, sf_dir):
    return RegistryAnalytics.from_sf_dir(spark, sf_dir)


def test_subjects_and_latest(reg):
    assert {r.subject for r in reg.subjects().collect()} == {
        "user-value", "order-events-value", "profile-value", "event-value"}
    latest = {r.subject: r.version for r in reg.latest().collect()}
    assert latest["user-value"] == 2 and latest["order-events-value"] == 1


def test_history_ordering(reg):
    hist = reg.history("user-value").collect()
    assert [r.version for r in hist] == [1, 2]


def test_statistics(reg):
    stats = {r.schema_type: (r.n_subjects, r.n_versions)
             for r in reg.statistics().collect()}
    assert stats["AVRO"] == (2, 3)
    assert stats["JSON"] == (1, 2)
    assert stats["PROTOBUF"] == (1, 2)


def test_field_search_variants(reg):
    hits = reg.search_fields("customer_id").collect()
    assert [(r.subject, r.path) for r in hits] == \
        [("order-events-value", "customerId")]


def test_similar_subjects(reg):
    sims = reg.similar_subjects(0.3).collect()
    assert [(r.subject_a, r.subject_b) for r in sims] == \
        [("profile-value", "user-value")]


def test_check_verdicts(reg):
    ok, _ = reg.check(AVRO_USER_V3, "user-value", "BACKWARD")
    assert ok
    bad, msgs = reg.check(AVRO_USER_V2_BAD, "user-value",
                          "BACKWARD_TRANSITIVE")
    assert not bad and msgs


def test_register_through_facade(spark, reg):
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3)],
        "subject string, seq int, schema_type string, schema_text string")
    out = {r.status: r for r in reg.register(incoming).collect()}
    assert out["registered"].assigned_version == 3


def test_corpus_backed_facade(corpus_reg):
    assert corpus_reg.latest().count() > 0
    view = corpus_reg.versions_view().collect()
    assert all(r.latest_version >= r.version_count for r in view)


def test_facade_mode_gating(spark, reg):
    modes = spark.createDataFrame([("user-value", "READONLY"),
                                   (None, "READWRITE")],
                                  "subject string, mode string")
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3)],
        "subject string, seq int, schema_type string, schema_text string")
    out = reg.register(incoming, modes=modes).collect()
    assert out[0].status == "readonly_mode"
    resolved = {r.subject: r.resolved_mode
                for r in reg.resolve_modes(modes).collect()}
    assert resolved["user-value"] == "READONLY"
    assert resolved["event-value"] == "READWRITE"


def test_facade_export_subject(reg):
    bundle = {r.subject: r for r in reg.export_subject().collect()}
    assert bundle["user-value"].n_versions == 2
    assert bundle["user-value"].versions_bundle.startswith("0001:")


def test_facade_dependency_graph(spark, reg):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subject string, ref_subject string")
    got = {(r.subject, r.ref_subject): r.depth
           for r in reg.dependency_graph(edges).collect()}
    assert got[("a", "c")] == 2


def test_facade_suggest_and_validate(reg):
    s = reg.suggest_evolution("user-value", "add_field", "email", "string")
    assert s["is_compatible"] and "default value" in s["advice"]
    assert reg.suggest_evolution("nope-value", "add_field")["error"] \
        == "Subject not found"
    v = reg.validate_schema('{"type":"record","name":"R","fields":[]}')
    assert v["is_valid"]


def test_facade_rewrap(spark, reg):
    deks = spark.createDataFrame(
        [("k", "s", 1, "m", 1)],
        "kek_name string, subject string, dek_version int, "
        "key_material string, wrapped_with_version int")
    keks = spark.createDataFrame(
        [("k", "kms", 2)],
        "kek_name string, kms_key_id string, key_version int")
    out = reg.rewrap_deks(deks, keks).collect()
    assert out[0].action == "rewrapped"


def test_delete_version_taxonomy(spark, sf_dir):
    from axonops_schema_registry_spark.api import RegistryAnalytics

    api = RegistryAnalytics.from_sf_dir(spark, sf_dir)
    row = api.delete_version("src1", -1, permanent=False).collect()[0]
    assert row["status"] == "soft_deleted_200"
    assert row["resolved_version"] is not None
    row = api.delete_version("ghost", 1).collect()[0]
    assert row["status"] == "subject_not_found_40401"
    row = api.delete_version("src1", 0).collect()[0]
    assert row["status"] == "invalid_version_42202"


def test_prometheus_gauges(spark, sf_dir):
    from axonops_schema_registry_spark.api import RegistryAnalytics

    reg = RegistryAnalytics.from_sf_dir(spark, sf_dir)
    rows = reg.prometheus_gauges().collect()
    metrics = {r.metric for r in rows}
    assert metrics == {"schema_registry_schema_versions",
                       "schema_registry_subjects_total",
                       "schema_registry_schemas_total"}
    assert all(r.value > 0 for r in rows)


# -- the re-planned point reads against their earlier formulations -------

_DIFF_ROWS = [
    # (subject, version, schema_type, schema_text, deleted, file)
    ("gaps-value", 1, "AVRO", AVRO_USER_V1, False, 0),
    ("gaps-value", 3, "AVRO", AVRO_USER_V2, False, 1),
    ("gaps-value", 7, "AVRO", AVRO_USER_V3, False, 2),
    ("tomb-value", 1, "AVRO", AVRO_USER_V1, False, 2),
    ("tomb-value", 2, "AVRO", AVRO_USER_V2, False, 0),
    ("tomb-value", 3, "AVRO", AVRO_USER_V2_BAD, True, 1),
    ("gone-value", 1, "AVRO", AVRO_USER_V1, True, 1),
    ("gone-value", 2, "AVRO", AVRO_USER_V2, True, 2),
    ("mixed-value", 1, "AVRO", AVRO_USER_V1, False, 0),
    ("mixed-value", 2, "JSON", JSON_USER_V1, False, 1),
    ("mixed-value", 4, "JSON", JSON_USER_V2, False, 2),
    ("it's-value", 2, "AVRO", AVRO_USER_V1, False, 1),
    ("it's-value", 5, "AVRO", AVRO_USER_V2, False, 0),
]
_DIFF_SUBJECTS = ["gaps-value", "tomb-value", "gone-value", "mixed-value",
                  "it's-value", "ghost-value"]


@pytest.fixture(scope="module")
def diff_reg(spark, tmp_path_factory):
    """A facade over a corpus written as three parquet files, so one
    subject's versions sit in different scan partitions."""
    path = str(tmp_path_factory.mktemp("diff_corpus") / "corpus.parquet")
    schema = ("subject string, version int, schema_type string, "
              "schema_text string, deleted boolean")
    for part in range(3):
        rows = [r[:5] for r in _DIFF_ROWS if r[5] == part]
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(path)
    corpus = spark.read.parquet(path)
    assert corpus.rdd.getNumPartitions() >= 3
    return RegistryAnalytics(spark, corpus)


def _ref_latest(live, subject):
    """``latest(subject)`` as a row_number window over the subject."""
    from pyspark.sql import Window

    w = Window.partitionBy("subject").orderBy(F.desc("version"))
    return (live.filter(F.col("subject") == subject)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def _same(got, want, ordered=False):
    assert got.schema == want.schema
    g, w = got.collect(), want.collect()
    if not ordered:
        g, w = sorted(g), sorted(w)
    assert g == w


def test_replanned_reads_match_reference(diff_reg):
    corpus = diff_reg.corpus
    live = corpus.filter(~F.col("deleted"))

    def ref_history(subject, include_deleted):
        src = corpus if include_deleted else live
        return src.filter(F.col("subject") == subject).orderBy("version")

    for s in _DIFF_SUBJECTS:
        _same(diff_reg.latest(s), _ref_latest(live, s))
        for inc in (False, True):
            _same(diff_reg.history(s, include_deleted=inc),
                  ref_history(s, inc), ordered=True)
    assert [r.version for r in diff_reg.latest("tomb-value").collect()] \
        == [2]
    assert diff_reg.latest("gone-value").collect() == []
    assert [r.version for r in diff_reg.history("gaps-value").collect()] \
        == [1, 3, 7]
    assert [r.version for r in diff_reg.history(
        "tomb-value", include_deleted=True).collect()] == [1, 2, 3]

    _same(diff_reg.statistics(),
          live.groupBy("schema_type")
          .agg(F.countDistinct("subject").alias("n_subjects"),
               F.count(F.lit(1)).alias("n_versions")))
    stats = {r.schema_type: (r.n_subjects, r.n_versions)
             for r in diff_reg.statistics().collect()}
    assert stats == {"AVRO": (4, 8), "JSON": (1, 2)}


def test_replanned_check_and_evolution_match_reference(diff_reg):
    from axonops_schema_registry_spark.registry.compat import (
        check_compatibility,
    )
    from axonops_schema_registry_spark.registry.evolution import (
        suggest_and_verify,
    )

    live = diff_reg.corpus.filter(~F.col("deleted"))

    def ref_check(new_schema, subject, mode):
        rows = (live.filter(F.col("subject") == subject)
                .orderBy("version").select("version", "schema_text")
                .orderBy(F.desc("version"))
                .limit(diff_reg.CHECK_HISTORY_CAP).collect())
        history = [r.schema_text
                   for r in sorted(rows, key=lambda r: r.version)]
        return check_compatibility(new_schema, history, mode, "AVRO")

    assert diff_reg.check(AVRO_USER_V3, "gaps-value")[0]
    assert not diff_reg.check(AVRO_USER_V2_BAD, "gaps-value",
                              "BACKWARD_TRANSITIVE")[0]
    for s in _DIFF_SUBJECTS:
        for new in (AVRO_USER_V3, AVRO_USER_V2_BAD):
            for mode in ("BACKWARD", "BACKWARD_TRANSITIVE",
                         "FORWARD_TRANSITIVE", "FULL_TRANSITIVE"):
                assert diff_reg.check(new, s, mode) == \
                    ref_check(new, s, mode), (s, mode)

        latest = _ref_latest(live, s).take(1)
        want = ({"error": "Subject not found"} if not latest else
                suggest_and_verify(latest[0].schema_text,
                                   latest[0].schema_type, "BACKWARD",
                                   "add_field", "email", "string", ""))
        assert diff_reg.suggest_evolution(
            s, "add_field", "email", "string") == want, s
