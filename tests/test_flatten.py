"""Reference-parity tests for the NVD pipeline core: feed scan, explode,
silver flatten with null-safe defaults, CPE extraction, upsert
last-writer-wins, and .meta parsing — the null paths enumerated in
FIXTURES.md §A1/A2 (mirroring nvd2mysqlloader.py:193-269 try/excepts)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nvd2mysqlloader_spark.operators.flatten import (extract_cve2cpe,
                                                     flatten_cve,
                                                     flatten_cve_bronze,
                                                     to_mysql_boundary)
from nvd2mysqlloader_spark.operators.upsert import (last_writer_wins,
                                                    merge_upsert)
from nvd2mysqlloader_spark.sources.cve_feed import explode_items, read_feed
from nvd2mysqlloader_spark.sources.meta_file import read_meta

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def silver(spark):
    items = explode_items(read_feed(spark, f"{DATA}/nvdcve-1.1-2024.json"))
    df = flatten_cve(items).cache()
    yield df
    df.unpersist()


def row(silver, cve_id):
    return silver.filter(F.col("cve_id") == cve_id).first()


def test_explode_counts(spark):
    feed = read_feed(spark, f"{DATA}/nvdcve-1.1-*.json")
    assert feed.count() == 2                       # two feed documents
    assert explode_items(feed).count() == 7        # 5 + 2 CVEs


def test_full_record_flatten(silver):
    r = row(silver, "CVE-2024-0001")
    # description concat: ALL languages, no separator (ref :219-221)
    assert r.summary == "Überflow in açme engine. Dépassement de tampon."
    assert float(r.score) == 7.5                   # decimal(3,1), ref :288
    assert r.access_vector == "NETWORK"
    assert r.authorize == "NONE"                   # 'authentication' → authorize col
    assert r.urls == ["https://example.org/a", "https://example.org/b"]
    assert r.published_datetime == "2024-01-15T10:00Z"


def test_cpe_filter_and_no_child_recursion(silver):
    # vulnerable=false filtered out (:184); children nodes NOT recursed (:180-185)
    r = row(silver, "CVE-2024-0001")
    assert r.vulnerable_software_list == [
        "cpe:2.3:a:acme:engine:1.0:*:*:*:*:*:*:*",
        "cpe:2.3:o:acme:os:2.0:*:*:*:*:*:*:*",
    ]
    r4 = row(silver, "CVE-2024-0004")
    assert r4.vulnerable_software_list == []       # child-only node yields nothing


def test_missing_impact_defaults(silver):
    r = row(silver, "CVE-2024-0002")
    assert float(r.score) == 0.0                   # default 0.0 (:236)
    assert r.access_vector == ""                   # empty-string defaults (:245-268)
    assert r.urls == []                            # zero references (:243-244)


def test_missing_sections(silver):
    r = row(silver, "CVE-2024-0005")               # no description/config/impact
    assert r.summary == ""
    assert r.vulnerable_software_list == []
    assert float(r.score) == 0.0


def test_mysql_boundary_comma_join(silver):
    b = to_mysql_boundary(silver)
    r = b.filter(F.col("cve_id") == "CVE-2024-0001").first()
    assert r.vulnerable_software_list == (
        "cpe:2.3:a:acme:engine:1.0:*:*:*:*:*:*:*,"
        "cpe:2.3:o:acme:os:2.0:*:*:*:*:*:*:*")     # ','.join parity (ref :190)
    assert r.urls == "https://example.org/a,https://example.org/b"


def test_cve2cpe_normalization(silver):
    cc = extract_cve2cpe(silver)
    rows = {(r.cve_id, r.cpe23Uri): r for r in cc.collect()}
    r = rows[("CVE-2024-0001", "cpe:2.3:a:acme:engine:1.0:*:*:*:*:*:*:*")]
    assert (r.part, r.vendor, r.product, r.version) == ("a", "acme", "engine", "1.0")


def test_bronze_roundtrip(spark):
    import json
    items = explode_items(read_feed(spark, f"{DATA}/nvdcve-1.1-2024.json"))
    bronze = flatten_cve_bronze(items)
    r = bronze.filter(F.col("cve_id") == "CVE-2024-0001").first()
    rec = json.loads(r.cve_item)                   # semantic JSON equality (§7.4.2)
    assert rec["cve"]["CVE_data_meta"]["ID"] == "CVE-2024-0001"
    assert rec["impact"]["baseMetricV2"]["cvssV2"]["baseScore"] == 7.5


def _silver_for(spark, name):
    return flatten_cve(explode_items(read_feed(spark, f"{DATA}/{name}")))


def test_upsert_last_writer_wins(spark):
    base = _silver_for(spark, "nvdcve-1.1-2024.json")
    updates = _silver_for(spark, "nvdcve-1.1-modified.json")
    merged = last_writer_wins(base.unionByName(updates), ["cve_id"],
                              ["last_modified_datetime"])
    assert merged.count() == 6                     # 5 + 1 new, 1 replaced
    r = merged.filter(F.col("cve_id") == "CVE-2024-0002").first()
    assert float(r.score) == 5.0                   # late update won (ref :449-464)
    assert r.summary == "Impact assessed."


def test_upsert_idempotent(spark):
    # MERGE twice ≡ once (SURVEY §5.2 property check)
    base = _silver_for(spark, "nvdcve-1.1-2024.json")
    updates = _silver_for(spark, "nvdcve-1.1-modified.json")
    once = merge_upsert(base, updates, ["cve_id"])
    twice = merge_upsert(once, updates, ["cve_id"])
    assert once.count() == twice.count() == 6
    assert (once.exceptAll(twice).count() == 0
            and twice.exceptAll(once).count() == 0)


def test_meta_parse():
    rows = read_meta(DATA)
    assert [r["download_name"] for r in rows] == ["nvdcve-1.1-2024", "nvdcve-1.1-modified"]
    r = rows[0]
    # leading '6' preserved — the reference's lstrip('sha256:') bug is NOT replicated
    assert r["sha256"].startswith("64310FE")
    assert (r["size"], r["zipSize"], r["gzSize"]) == (32169411, 1840270, 1840126)
    assert r["lastModifiedDate"] == "2024-06-01T03:00:00-04:00"


def test_cvss_v3_extension(silver):
    # SURVEY §1.4: v3 fields carried (nullable, no fake defaults)
    r = row(silver, "CVE-2024-0001")
    assert float(r.score_v3) == 9.8 and r.severity_v3 == "CRITICAL"
    assert r.scope_v3 == "UNCHANGED"
    r2 = row(silver, "CVE-2024-0002")           # no impact at all
    assert r2.score_v3 is None and r2.severity_v3 is None


def test_children_cpe_extraction_opt_in(spark):
    """Depth-2 extension (SURVEY §7.4.4): include_children_cpes walks
    nodes[*].children[*].cpe_match too — real NVD data nests
    vulnerable CPEs under AND nodes, which the reference drops
    (nvd2mysqlloader.py:180-185). Per-node order: top-level URIs then
    children's. The default stays reference-parity (see
    test_cpe_filter_and_no_child_recursion)."""
    items = explode_items(read_feed(spark, f"{DATA}/nvdcve-1.1-2024.json"))
    deep = flatten_cve(items, include_children_cpes=True)
    r1 = deep.filter(F.col("cve_id") == "CVE-2024-0001").first()
    assert r1.vulnerable_software_list == [
        "cpe:2.3:a:acme:engine:1.0:*:*:*:*:*:*:*",
        "cpe:2.3:o:acme:os:2.0:*:*:*:*:*:*:*",
        "cpe:2.3:a:child:ignored:9.9:*:*:*:*:*:*:*",
    ]
    # children-only node: empty in parity mode, populated at depth 2
    r4 = deep.filter(F.col("cve_id") == "CVE-2024-0004").first()
    assert r4.vulnerable_software_list == [
        "cpe:2.3:a:nested:only:1.0:*:*:*:*:*:*:*"]
    # every other column identical between the two modes
    base = flatten_cve(items).drop("vulnerable_software_list")
    ext = deep.drop("vulnerable_software_list")
    assert base.exceptAll(ext).count() == 0
    assert ext.exceptAll(base).count() == 0
