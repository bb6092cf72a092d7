"""Batched sink (S6), delete (S7), unit conversion (P11), entity graph
FK resolution (J4)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gjspark.operators.entities import (
    CreatorConfig,
    resolve_fk,
    sensorthings_graph,
)
from gjspark.operators.sink import (
    batch_observations,
    count_errors,
    delete_by_ids,
    op_metrics,
)
from gjspark.operators.units import conversion_table, convert_units
from gjspark.sources.geojson import read_feature_collection


@pytest.fixture()
def obs(spark):
    t = dt.datetime(2024, 3, 1)
    rows = [
        (f"o{i:03d}", f"ds{i % 3}", t + dt.timedelta(minutes=i), float(i))
        for i in range(250)
    ]
    return spark.createDataFrame(
        rows, "obs_id string, ds_key string, t_start timestamp, value double"
    )


class TestSink:
    def test_batching(self, obs):
        b = batch_observations(obs, max_batch=30).toPandas()
        # ~84 per stream -> 3 batches each
        assert set(b["ds_key"]) == {"ds0", "ds1", "ds2"}
        assert b.groupby("ds_key")["batch_no"].max().max() == 2
        assert b["n_obs"].sum() == 250
        assert (b[b.batch_no < 2]["n_obs"] == 30).all()
        # deterministic across reruns
        b2 = batch_observations(obs, max_batch=30).toPandas()
        m = b.sort_values(["ds_key", "batch_no"]).reset_index(drop=True)
        m2 = b2.sort_values(["ds_key", "batch_no"]).reset_index(drop=True)
        assert (m["obs_ids"].map(tuple) == m2["obs_ids"].map(tuple)).all()

    def test_metrics_and_errors(self, spark):
        df = spark.createDataFrame(
            [("a", "create"), ("b", "update"), ("c", "create")], "id string, op string"
        )
        m = {r["op"]: r["n"] for r in op_metrics(df).collect()}
        assert m == {"create": 2, "update": 1}
        resp = spark.createDataFrame(
            [("ok",), ("error 400",), ("ok",), ("error dup",)], "status string"
        )
        assert count_errors(resp) == 2

    def test_delete(self, obs, spark):
        ids = spark.createDataFrame([("o000",), ("o001",)], "obs_id string")
        left = delete_by_ids(obs, ids)
        assert left.count() == 248
        assert left.filter(F.col("obs_id").isin("o000", "o001")).count() == 0


class TestUnits:
    def test_convert_and_inverse(self, spark):
        table = conversion_table(spark, {("km", "m"): 1000.0, ("degC", "K"): 1.0})
        df = spark.createDataFrame(
            [(1.5, "km"), (2000.0, "m"), (5.0, "mi")], "value double, unit string"
        )
        out = {
            r["unit"]: r["value_converted"]
            for r in convert_units(df, table, to_unit="m").collect()
        }
        assert out["km"] == 1500.0
        assert out["m"] == 2000.0  # same unit -> identity
        assert out["mi"] is None  # unknown pair -> null
        # inverse direction synthesized
        df2 = spark.createDataFrame([(3000.0, "m")], "value double, unit string")
        got = convert_units(df2, table, to_unit="km").collect()[0]["value_converted"]
        assert got == 3.0


class TestEntityGraph:
    def test_fk_resolution_and_graph(self, spark, fixtures_dir):
        feats = read_feature_collection(spark, f"{fixtures_dir}/features_nuts.geojson")
        configs = {
            "Location": CreatorConfig(
                entity_type="Location",
                template_name="{NUTS_NAME}",
                template_cache_key="{type}-{NUTS_ID}",
                with_geometry=True,
            ),
            "Thing": CreatorConfig(
                entity_type="Thing",
                template_name="{NUTS_NAME}",
                template_cache_key="{type}-{NUTS_ID}",
            ),
            "Sensor": CreatorConfig(
                entity_type="Sensor",
                template_name="sensor-{CNTR_CODE}",
                template_cache_key="sensor-{CNTR_CODE}",
            ),
            "Datastream": CreatorConfig(
                entity_type="Datastream",
                template_name="ds {NUTS_ID}",
                template_cache_key="ds-{NUTS_ID}",
                extra_templates={
                    "thing_key": "{type}-{NUTS_ID}",
                    "sensor_key": "sensor-{CNTR_CODE}",
                },
            ),
        }
        graph = sensorthings_graph(feats, configs)
        assert set(graph) == {"Location", "Thing", "Sensor", "Datastream"}
        ds = graph["Datastream"].toPandas()
        assert ds["thing_id"].notna().all()
        assert ds["sensor_id"].notna().all()
        # FK ids actually belong to the parent tables
        things = set(graph["Thing"].toPandas()["entity_id"])
        assert set(ds["thing_id"]).issubset(things)
        # 4 distinct sensors (one per country code)
        assert graph["Sensor"].count() == 4
        assert ds["sensor_id"].nunique() == 4

    def test_resolve_fk_null_on_missing(self, spark):
        child = spark.createDataFrame([("c1", "K1"), ("c2", "KX")], "id string, pkey string")
        parent = spark.createDataFrame([("K1", "P1")], "cache_key string, entity_id string")
        out = {r["id"]: r["pkey_id"] for r in resolve_fk(child, parent, "pkey").collect()}
        assert out == {"c1": "P1", "c2": None}


class TestFullGraph:
    def test_foi_mds_observation_links(self, spark, fixtures_dir):
        """FoI find-or-create (FrostUtils.java:356-382), MultiDatastream
        (FrostUtils.java:545-619) and Observation->FoI
        (CreatorObservation.java:184-187) in the distributed graph."""
        from gjspark.operators.entities import graph_demo_configs

        feats = read_feature_collection(spark, f"{fixtures_dir}/features_nuts.geojson")
        g = sensorthings_graph(feats, graph_demo_configs())
        assert {"FeatureOfInterest", "MultiDatastream", "Observation"} <= set(g)
        obs = g["Observation"].toPandas()
        assert obs["foi_id"].notna().all()
        assert obs["datastream_id"].notna().all()
        fois = set(g["FeatureOfInterest"].toPandas()["entity_id"])
        assert set(obs["foi_id"]).issubset(fois)
        mds = g["MultiDatastream"].toPandas()
        # one per country, ordered obs-prop id lists, dataTypes same length
        assert len(mds) == 4
        assert mds["thing_id"].notna().all()
        ops = set(g["ObservedProperty"].toPandas()["entity_id"])
        for op_ids, dts in zip(mds["obs_prop_ids"], mds["data_types"]):
            assert len(op_ids) == 2 and len(dts) == 2
            assert set(op_ids).issubset(ops)
            assert all("OM_Measurement" in d for d in dts)


class TestAggregationContainers:
    def test_min_max_dev_ops_and_level_chain(self, spark):
        """A2 scaffolding: SensorThingsUtils.java:128-155 (aggregate obs
        props) and :157-185 (level containers with chained aggregateFor)."""
        from gjspark.operators.aggregates import (
            aggregate_observed_properties,
            aggregation_containers,
        )

        ops = spark.createDataFrame(
            [("Temperature", "The temp")], "name string, description string"
        )
        agg = aggregate_observed_properties(ops).toPandas()
        assert list(agg["name"]) == [
            "Temperature Min", "Temperature Max", "Temperature Dev",
        ]
        assert list(agg["description"]) == [
            "The temp Minimum", "The temp Maximum",
            "The temp Standard deviation",
        ]
        ds = spark.createDataFrame(
            [("ds-1", "DS A", "Stream A", "Temperature", '{"s":"C"}')],
            "entity_id string, name string, description string, "
            "obs_prop_name string, uom_json string",
        )
        mds = (
            aggregation_containers(ds).toPandas().set_index("level")
        )
        assert mds.loc["HOURLY", "name"] == "DS A [1 hour]"
        assert mds.loc["DAILY", "name"] == "DS A [1 day]"
        assert mds.loc["HOURLY", "description"] == "Stream A Aggregated hourly"
        # chain: hourly -> the datastream; daily -> the hourly MDS
        assert mds.loc["HOURLY", "aggregate_for"] == "/Datastreams(ds-1)"
        assert mds.loc["DAILY", "aggregate_for"] == (
            "/MultiDatastreams(" + mds.loc["HOURLY", "entity_id"] + ")"
        )
        assert list(mds.loc["HOURLY", "obs_prop_names"]) == [
            "Temperature", "Temperature Min", "Temperature Max",
            "Temperature Dev",
        ]
        # agg op ids line up with aggregate_observed_properties
        assert mds.loc["HOURLY", "obs_prop_ids"][1] == agg["entity_id"][0]
        assert len(mds.loc["HOURLY", "uoms"]) == 4


class TestWriteObservations:
    def test_parquet_branch_auto_selected_and_written(self, spark, obs, tmp_path):
        from gjspark.operators.sink import write_observations
        from gjspark.plans.checkpoint import read_checkpointed

        out = str(tmp_path / "obs_out")
        branch = write_observations(obs, out)  # path -> parquet twin
        assert branch == "parquet"
        back = read_checkpointed(spark, out)
        assert back.schema == obs.schema  # t_start stays a Spark timestamp
        assert back.orderBy("obs_id").collect() == obs.orderBy("obs_id").collect()
        # _manifest/_SUCCESS are hidden files to a plain directory read
        assert spark.read.parquet(out).count() == 250

    def test_iceberg_branch_requires_runtime(self, spark):
        from gjspark.operators.sink import (
            iceberg_runtime_available,
            write_observations,
        )

        # sandbox has no Iceberg runtime: auto-detect must fall back
        assert not iceberg_runtime_available(spark)
        # forcing the branch takes the DataFrameWriterV2 path (recorded
        # via monkeypatch, no cluster needed)
        calls = {}

        class _RecWriter:
            def append(self):
                calls["append"] = True

            def createOrReplace(self):
                calls["replace"] = True

        df = spark.createDataFrame([("o1",)], "obs_id string")
        def fake_write_to(self, tgt):
            calls["target"] = tgt
            return _RecWriter()

        orig = type(df).writeTo
        type(df).writeTo = fake_write_to
        try:
            branch = write_observations(df, "cat.db.obs", fmt="iceberg")
        finally:
            type(df).writeTo = orig
        assert branch == "iceberg"
        assert calls["target"] == "cat.db.obs"
        assert calls.get("append")

    def test_iceberg_merge_branch_builds_merge_sql(self, spark):
        from gjspark.operators.sink import write_observations

        df = spark.createDataFrame([("o1", 1.0)], "obs_id string, v double")
        recorded = {}
        orig_sql = type(spark).sql

        def rec_sql(self, q, *a, **k):
            recorded["sql"] = q

        type(spark).sql = rec_sql
        try:
            branch = write_observations(
                df, "cat.db.obs", fmt="iceberg", merge_on="obs_id"
            )
        finally:
            type(spark).sql = orig_sql
        assert branch == "iceberg"
        q = recorded["sql"]
        # identifiers are backtick-quoted and the source view is per-call
        # unique (concurrent writers on one session must not collide)
        assert "MERGE INTO `cat`.`db`.`obs` t USING `__obs_incoming_" in q
        assert "ON t.`obs_id` = s.`obs_id`" in q
        assert "WHEN MATCHED THEN UPDATE SET t.`obs_id` = s.`obs_id`, t.`v` = s.`v`" in q
        assert (
            "WHEN NOT MATCHED THEN INSERT (`obs_id`, `v`) "
            "VALUES (s.`obs_id`, s.`v`)" in q
        )
