"""Driver-contract smoke tests: every queries() entry runs, returns rows with
a stable schema, and matches its oracle on the small SF (mirrors the real
t2 gate which runs at sf0.01)."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tools.verify_local import canonicalize, compare


def test_compare_rejects_int_float_family_mismatch():
    """Regression for round-1 a6: DuckDB HUGEINT materializes as float64 while
    Spark emits bigint; the driver hash is dtype-family sensitive, so the local
    gate must fail that pairing even when values are numerically equal."""
    a = pd.DataFrame({"k": ["x", "y"], "ct": pd.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"k": ["x", "y"], "ct": pd.array([1.0, 2.0], dtype="float64")})
    err = compare("dtype_probe", a, b)
    assert err is not None and "dtype family" in err
    # same family, different width: allowed (driver normalizes widths)
    c = pd.DataFrame({"k": ["x", "y"], "ct": pd.array([1, 2], dtype="int32")})
    assert compare("dtype_probe", a, c) is None


def test_compare_is_bit_exact_on_floats():
    """Regression for round-8 embedding_covariance: DuckDB's round()
    preserves -0.0 while Spark's emits +0.0; pandas equality treats them
    as equal but the driver's value hash is bit-level. The local gate
    must distinguish sign-of-zero (and any NaN-payload divergence) while
    still treating identical NaNs as equal."""
    import numpy as np

    a = pd.DataFrame({"cov": [0.0, 1.5]})
    b = pd.DataFrame({"cov": [-0.0, 1.5]})
    err = compare("zero_sign_probe", a, b)
    assert err is not None and "values" in err
    assert compare("zero_sign_probe", a.copy(), a.copy()) is None
    c = pd.DataFrame({"x": [np.nan, 2.0]})
    assert compare("nan_probe", c.copy(), c.copy()) is None


def test_tools_use_only_existing_engine_names():
    """Every name a tools/ script takes from flinkproject_spark still
    exists: `from flinkproject_spark.x import y`, and `m.attr` on an
    engine module the script imported. A deleted engine API otherwise
    surfaces only when someone next runs the script."""
    import ast
    import importlib
    import pathlib
    import types

    def resolve(mod, name):
        if hasattr(mod, name):
            return getattr(mod, name)
        try:
            return importlib.import_module(f"{mod.__name__}.{name}")
        except ModuleNotFoundError:
            return None

    missing = []
    for path in sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py")):
        tree = ast.parse(path.read_text())
        modules = {}  # local name -> imported engine module
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "flinkproject_spark":
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    obj = resolve(mod, alias.name)
                    if obj is None:
                        missing.append(f"{path.name}: {node.module}.{alias.name}")
                    elif isinstance(obj, types.ModuleType):
                        modules[alias.asname or alias.name] = obj
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "flinkproject_spark" and alias.asname:
                        modules[alias.asname] = importlib.import_module(alias.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
                and resolve(modules[node.value.id], node.attr) is None
            ):
                missing.append(f"{path.name}: {node.value.id}.{node.attr}")
    assert not missing, missing


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"stt", "edt", "province_id", "province_name", "order_amount", "order_count"}


def test_ivf_pq_recall_report_fit_failure_cancels_exact_arm(spark, sf_dir, monkeypatch):
    """A fit that raises must surface at once: the exact arm runs on a side
    thread under its own job group, which the failure cancels, rather than
    being waited out when the thread pool closes."""
    import time

    from pyspark.sql import functions as F

    def slow_exact(emb, query_ids):
        # 4 tasks of 10 rows x 3 s: the exact arm alone takes 30 s
        stall = F.udf(lambda _: time.sleep(3.0) is None, "boolean")
        return emb.sparkSession.range(0, 40, 1, 4).where(stall("id"))

    def failing_fit(emb, query_ids, normed):
        time.sleep(2.0)  # the exact arm's job is running by now
        raise RuntimeError("fit failed")

    monkeypatch.setattr(entrymod.similarity, "cosine_topk_vectorized", slow_exact)
    monkeypatch.setattr(entrymod.similarity, "ivf_pq_topk", failing_fit)
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="fit failed"):
        entrymod.q_ivf_pq_recall_report(spark, sf_dir)
    assert time.perf_counter() - t0 < 15.0


def test_every_query_has_oracle_or_is_declared():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle for unknown query"
    assert len(qs) >= 35


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    sdf = qs[name](spark, sf_dir).toPandas()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.sql(oracles[name]).df()
    err = compare(name, sdf, ddf)
    assert err is None, f"{name}: {err}"


def test_srp_sql_generator_matches_spark_signatures_any_config(spark, tmp_path):
    """The parameterized SRP oracle generator (_srp_sql) must regenerate
    dedup.srp_signatures' exact (vec_id, band, bucket) rows for ANY
    (bits, bands) config, not just the two driver-query instances — the
    guard that keeps future retunings oracle-checkable. Same parquet
    bytes feed both engines (quantization parity is byte-level)."""
    import duckdb
    import numpy as np

    from flinkproject_spark.operators import dedup

    rng = np.random.RandomState(11)
    rows = [
        (int(i), [float(v) for v in rng.randn(64).astype(np.float32)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pq = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)
    stored = spark.read.parquet(pq)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')")

    import __spark_entry__ as entrymod

    for bits, bands in ((16, 4), (96, 8), (32, 8), (24, 3)):
        got = {
            (r.vec_id, r.band, r.bucket)
            for r in dedup.srp_signatures(stored, bits, bands).collect()
        }
        # reuse the generator's CTE block up to `bucks`, select it directly
        sql = entrymod._srp_sql(bits, bands)
        bucks_sql = sql.split("cand AS (")[0].rstrip().rstrip(",") + \
            "\nSELECT vec_id, band, bucket FROM bucks"
        want = {(r[0], r[1], r[2]) for r in con.execute(bucks_sql).fetchall()}
        assert got == want, f"config {bits}/{bands} diverged"
