import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from finance_sc_relations_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="fsr-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_corpus():
    """Deterministic 300-page corpus (pages_pdf, gold_pdf, companies_pdf)."""
    from finance_sc_relations_spark.fixtures import generate_corpus

    return generate_corpus(300)


@pytest.fixture(scope="session")
def unfused_classified():
    """Builds the composable two-stage extraction reference
    (generate_tagged_pairs + classify_pairs) over a run_pipeline result's
    `gated` sentences, with the run's config. run_pipeline itself takes the
    fused path; its `classified` must equal this reference, and everything
    downstream of `classified` is shared code."""
    from finance_sc_relations_spark.operators.pairs import generate_tagged_pairs
    from finance_sc_relations_spark.operators.re_classifier import classify_pairs

    def build(out, cfg):
        pairs = generate_tagged_pairs(
            out["gated"].select("url", "sentence_id", "sentence", "org_groups"),
            num_positions=cfg.num_positions,
        )
        return classify_pairs(
            pairs.select(
                "url", "sentence_id", "r_id", "sents", "entity1", "entity2",
                "org_groups",
            ),
            mutate=cfg.mutate,
            reverse=cfg.reverse,
            model_partitions=cfg.model_partitions,
            model_broadcast=cfg.re_model_broadcast,
            model_path=cfg.re_model_path,
            tokenizer_broadcast=cfg.re_tokenizer_broadcast,
            max_length=cfg.re_max_length,
            dropped_acc=cfg.re_dropped_acc,
        )

    return build
