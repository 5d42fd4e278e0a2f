"""Adversarial nbsp corpus gate: every document-reading shared
template must produce identical Spark and DuckDB results on text with
LEADING/TRAILING U+00A0 — the cross-engine trim hazard (DuckDB trim
strips Unicode whitespace, Spark strips 0x20 only), neutralized by the
{ntext} shim which renders a space-only regexp on the DuckDB side."""

import math
import os
import shutil

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from harbourbridge_spark import queries as Q

BASE = "/root/testdata/sf0.001"

# text/dedup operators over documents whose normalization path touches
# {ntext}; the multimodal/curation entries read binary/aux columns
NBSP_QUERIES = [
    "text_quality", "lang_id_confusion", "doc_fingerprints",
    "token_counts", "doc_surprisal", "doc_repetition",
    "boilerplate_grams", "dedup_exact", "dedup_minhash_lsh",
    "dedup_lsh_verified", "dedup_keep_first",
    "doc_chunks", "vocab_topk", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_removal_manifest", "dedup_clusters",
]


def _canon(df: pd.DataFrame):
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.10g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return cols, out


@pytest.fixture(scope="module")
def nbsp_dir(tmp_path_factory):
    """sf0.001 with every document nbsp-poisoned: leading/trailing
    U+00A0 plus an nbsp-wrapped duplicate family so the dedup paths
    exercise bucket joins over the adversarial normalization."""
    d = tmp_path_factory.mktemp("nbsp_sf")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(os.path.join(BASE, f"{t}.parquet"),
                    str(d / f"{t}.parquet"))
    src = os.path.join(BASE, "documents.parquet")
    df = pq.read_table(src).to_pandas()
    df["text"] = "  " + df["text"] + "  "
    # duplicate family differing ONLY in nbsp padding: exact-dedup
    # equality depends on whether trim strips the nbsp
    extra = df.head(5).copy()
    extra["doc_id"] = extra["doc_id"] + int(df["doc_id"].max()) + 1
    extra["text"] = extra["text"].str.strip("  ")
    big = pd.concat([df, extra], ignore_index=True)
    big["n_chars"] = big["text"].str.len()
    pq.write_table(pa.Table.from_pandas(
        big, schema=pq.read_table(src).schema, preserve_index=False),
        str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck(nbsp_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{nbsp_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", NBSP_QUERIES)
def test_nbsp_oracle_parity(spark, nbsp_dir, duck, name):
    spec = Q.REGISTRY[name]
    sdf = spec.fn(spark, nbsp_dir).toPandas()
    odf = duck.execute(spec.oracle).df()
    scols, srows = _canon(sdf)
    ocols, orows = _canon(odf)
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows
