"""Generator determinism: same seed, same bytes; another seed, another
layout with the same oracle answers."""

import hashlib
import os

from perfbench import gen
from perfbench.check import duck

SF = 0.001


def files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def answers(sf_dir, hooks):
    from data_transform_make_spark import corpus
    from perfbench.run import EXPECTED_INVENTORY_SQL, ORDER_ETL_QUERIES

    tables = [t[: -len(".parquet")] for t in os.listdir(sf_dir) if t.endswith(".parquet")]
    con = duck({t: f"{sf_dir}/{t}.parquet/*.parquet" for t in tables})
    sqls = corpus.oracle_sql()
    out = {q: sorted(con.execute(sqls[q]).fetchall(), key=repr) for q in ORDER_ETL_QUERIES}
    sql = EXPECTED_INVENTORY_SQL.format(webhooks=f"{hooks}/webhooks", inventory=f"{hooks}/inventory.parquet")
    out["inventory"] = sorted(con.execute(sql).fetchall(), key=repr)
    return out


def test_same_seed_same_bytes_other_seed_same_answers(tmp_path):
    a = gen.order_etl_inputs(str(tmp_path / "a"), 7, SF)
    b = gen.order_etl_inputs(str(tmp_path / "b"), 7, SF)
    c = gen.order_etl_inputs(str(tmp_path / "c"), 8, SF)
    ha = gen.webhook_inputs(str(tmp_path / "a"), 7, SF, 300, 4)
    hb = gen.webhook_inputs(str(tmp_path / "b"), 7, SF, 300, 4)
    hc = gen.webhook_inputs(str(tmp_path / "c"), 8, SF, 300, 4)
    assert files(a) == files(b) and files(ha) == files(hb)
    assert files(a) != files(c) and files(ha) != files(hc)
    assert answers(a, ha) == answers(c, hc)


def test_curation_overlay_is_deterministic_per_seed(tmp_path):
    from data_transform_make_spark import corpus
    from perfbench.run import CURATION_QUERIES, SEED_DEPENDENT

    a = gen.curation_inputs(str(tmp_path / "a"), 3, 200, 50, 2)
    b = gen.curation_inputs(str(tmp_path / "b"), 3, 200, 50, 2)
    c = gen.curation_inputs(str(tmp_path / "c"), 4, 200, 50, 2)
    assert files(a) == files(b)
    assert files(a) != files(c)

    def answers(d):
        con = duck({t: f"{d}/{t}.parquet/*.parquet" for t in ("documents", "embeddings")})
        sqls = corpus.oracle_sql()
        return {q: sorted(con.execute(sqls[q]).fetchall(), key=repr) for q in CURATION_QUERIES if q not in SEED_DEPENDENT}

    # the answers kept across seeds really do not depend on the seed
    assert answers(a) == answers(c)


def test_overlay_replicas_are_isomorphic():
    base = gen.documents(100)
    import numpy as np

    t = gen.overlay_documents(base, 3, np.random.default_rng(0))
    assert t.num_rows == 300
    texts = t.column("text").to_pylist()
    for i in range(100):
        words = [w.split(" ") for w in texts[i::100]]
        assert len({len(w) for w in words}) == 1  # same token count in every replica
        assert len(set(texts[i::100])) in (1, 3)  # all-stopword docs stay identical
    assert len(set(t.column("doc_id").to_pylist())) == 300
