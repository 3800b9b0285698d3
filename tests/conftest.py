from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pdf_etl_ocr_inference_spark.session import get_spark

    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


def replayed_topk(kind, ids, embs, q, k, **kw):
    """The global top-k of ``plans/graph_sql.replay_topk`` as
    ``serve_topk`` returns it: ``[(vec_id, score)]`` ranked by
    (-score, id), scores rounded HALF_UP to 4 decimals."""
    import numpy as np

    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        round_half_up,
    )
    from pdf_etl_ocr_inference_spark.plans.graph_sql import replay_topk

    top = sorted(
        replay_topk(kind, ids, embs, q, k=k, **kw),
        key=lambda t: (-t[1], t[0]),
    )[:k]
    scores = round_half_up(np.array([s for _, s in top]), 4)
    return [(i, float(s)) for (i, _), s in zip(top, scores)]
