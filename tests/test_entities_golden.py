"""Golden end-to-end test: the reference README usage example
(reference README.md:47-80) must produce the reference's expected
clustering — {Crystal Clean LLC, Crystal Clean, Crystal-Clean Inc.} and
{Midwest Waste Services, Midwest Waste} co-cluster, with canonical names
and confidence columns. Plus fit/transform and save/load round-trips."""

import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

README_DATA = {
    "company_name": [
        "Crystal Clean LLC", "Crystal Clean", "Crystal-Clean Inc.",
        "Midwest Waste Services", "Midwest Waste",
    ],
    "address": [
        "123 Main St, Rockford IL", "123 Main Street, Rockford, IL",
        "123 Main St, Rockford",
        "456 Oak Ave, Hoffman Estates", "456 Oak Avenue, Hoffman Estates IL",
    ],
}


@pytest.fixture(scope="module")
def ckpt_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("entity_ckpt"))


@pytest.fixture(scope="module")
def resolver(spark, ckpt_dir):
    """The README fit commits its stage tables to ``ckpt_dir`` (see
    test_checkpoint_resume_after_each_stage)."""
    import dataclasses

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.plans.entities import EntityResolver

    base = ResolverConfig()
    cfg = dataclasses.replace(
        base, runtime=dataclasses.replace(base.runtime, checkpoint_dir=ckpt_dir)
    )
    return EntityResolver(config=cfg, spark=spark)


@pytest.fixture(scope="module")
def resolved(resolver):
    return resolver.fit_transform(pd.DataFrame(README_DATA))


def test_readme_example_clusters(resolved):
    by_name = resolved.set_index("company_name")
    crystal = {
        by_name.loc[n, "final_cluster"]
        for n in ["Crystal Clean LLC", "Crystal Clean", "Crystal-Clean Inc."]
    }
    midwest = {
        by_name.loc[n, "final_cluster"]
        for n in ["Midwest Waste Services", "Midwest Waste"]
    }
    assert len(crystal) == 1, f"crystal group split: {crystal}"
    assert len(midwest) == 1, f"midwest group split: {midwest}"
    assert crystal != midwest


def test_generate_report_reference_signature(resolver, resolved):
    # reference signature: generate_report(original_df) reports
    # unique_entities_before from the input (resolver.py:1289-1304)
    rep = resolver.generate_report(pd.DataFrame(README_DATA))
    assert rep["unique_entities_before"] == 5
    assert "unique_entities_before" not in resolver.generate_report()


def test_readme_canonical_names(resolved):
    by_name = resolved.set_index("company_name")
    assert by_name.loc["Crystal Clean LLC", "canonical_name"] == "Crystal Clean"
    assert by_name.loc["Midwest Waste", "canonical_name"] in (
        "Midwest Waste Services", "Midwest Waste",
    )
    assert ((resolved["confidence_score"] >= 0) & (resolved["confidence_score"] <= 1)).all()
    assert set(resolved["confidence_category"]).issubset(
        {"Low", "Medium", "High", "VeryHigh"}
    )


def test_state_gate_blocks_cross_state(resolver):
    df = pd.DataFrame(
        {
            "company_name": ["Acme Trucking", "Acme Trucking"],
            "address": ["1 Elm St, Springfield IL", "1 Elm St, Springfield TX"],
        }
    )
    out = resolver.__class__(spark=resolver._session()).fit_transform(df)
    assert out["final_cluster"].nunique() == 2  # C4: states differ -> no merge


def test_transform_and_save_load(resolver, resolved, spark):
    new = pd.DataFrame(
        {
            "company_name": ["Crystal Clean Incorporated", "Totally New Co"],
            "address": ["123 Main St, Rockford IL", "9 Nowhere Ln, Peoria IL"],
        }
    )
    out = resolver.transform(new)
    by_name = out.set_index("company_name")
    assert by_name.loc["Crystal Clean Incorporated", "canonical_name"] == "Crystal Clean"
    assert not by_name.loc["Crystal Clean Incorporated", "is_new_entity"]
    assert by_name.loc["Totally New Co", "is_new_entity"]

    with tempfile.TemporaryDirectory(prefix="model_") as d:
        resolver.save_model(d)
        from gpu_entity_resolver_spark.plans.entities import EntityResolver

        r2 = EntityResolver(spark=spark).load_model(d)
        out2 = r2.transform(new)
        assert (
            out2.set_index("company_name").loc[
                "Crystal Clean Incorporated", "canonical_name"
            ]
            == "Crystal Clean"
        )


def test_transform_assignment_validation(resolver, resolved):
    """C13 assignment validation (reference resolver.py:2280-2332): a name
    match whose address/state conflicts with the assigned cluster's
    canonical profile is evicted and becomes a new entity."""
    new = pd.DataFrame(
        {
            "company_name": ["Crystal Clean"],
            "address": ["77 Desert Rd, Phoenix AZ"],
        }
    )
    out = resolver.transform(new).set_index("company_name")
    assert bool(out.loc["Crystal Clean", "is_new_entity"])


def test_chain_entity_numbering(spark):
    """C8: same company at multiple far-apart addresses becomes a numbered
    chain (' - N'), reference resolver.py:943-1001."""
    from gpu_entity_resolver_spark.plans.entities import EntityResolver

    df = pd.DataFrame(
        {
            "company_name": ["Acme Pizza", "Acme Pizza", "Acme Pizza"],
            "address": [
                "12 Lake St, Chicago IL 60601",
                "9000 Desert Rd, Phoenix AZ 85001",
                "12 Lake Street, Chicago IL 60601",
            ],
        }
    )
    out = EntityResolver(spark=spark).fit_transform(df)
    # the two Chicago rows co-cluster; Phoenix (different state) stays apart
    assert out["final_cluster"].nunique() == 2
    names = set(out["canonical_name"])
    assert names == {"Acme Pizza - 1", "Acme Pizza - 2"}, names


def test_street_number_range_split(spark):
    """C7: same street name/zip but street numbers spanning > 50 split."""
    from gpu_entity_resolver_spark.operators.hygiene import (
        split_by_street_number_range,
    )

    rows = [
        (1, "100", "main street", "60601"),
        (1, "120", "main street", "60601"),   # span 20 from 100 - same site-ish
        (2, "100", "oak avenue", "10001"),
        (2, "900", "oak avenue", "10001"),    # span 800 -> split
    ]
    df = spark.createDataFrame(
        rows,
        "final_cluster long, addr_street_number string, "
        "addr_street_name string, addr_zip string",
    )
    out = split_by_street_number_range(df)
    c1 = out.where(F.col("addr_street_name") == "main street")
    c2 = out.where(F.col("addr_street_name") == "oak avenue")
    assert c1.select("final_cluster").distinct().count() == 1
    assert c2.select("final_cluster").distinct().count() == 2


def test_report_and_review(resolver, resolved):
    rep = resolver.generate_report()
    assert rep["n_docs"] == 5 and rep["n_clusters"] == 2
    rev = resolver.get_review_dataframe()
    assert rev.count() >= 0


def test_checkpoint_resume_after_each_stage(resolver, resolved, ckpt_dir):
    """The module fit ran with ``runtime.checkpoint_dir`` set, so each stage
    committed a table. A fit resumed after ``e01_prepared``,
    ``e02_edges``, ``e03_clusters`` or ``e04_hygiene`` (the later stages
    rerun from the committed tables) returns the fresh fit's rows in every
    column; floats within 1e-6, as in the resolve plan's determinism
    test."""
    import os
    import shutil

    from gpu_entity_resolver_spark.plans.entities import EntityResolver

    assert sorted(os.listdir(ckpt_dir)) == [
        "_lineage", "e01_prepared", "e02_edges", "e03_clusters",
        "e04_hygiene", "e05_resolved",
    ]
    fresh = resolved.sort_values("company_name").reset_index(drop=True)
    for dropped in (
        ["e02_edges", "e03_clusters", "e04_hygiene", "e05_resolved"],
        ["e03_clusters", "e04_hygiene", "e05_resolved"],
        ["e04_hygiene", "e05_resolved"],
        ["e05_resolved"],
    ):
        for stage in dropped:
            shutil.rmtree(os.path.join(ckpt_dir, stage))
        resumed = EntityResolver(
            config=resolver.config, spark=resolver._session()
        ).fit_transform(pd.DataFrame(README_DATA))
        assert os.path.isdir(os.path.join(ckpt_dir, "e05_resolved"))
        pd.testing.assert_frame_equal(
            resumed.sort_values("company_name").reset_index(drop=True),
            fresh,
            check_exact=False,
            rtol=0,
            atol=1e-6,
            obj=str(dropped),
        )
