"""Golden output digests of the 12 native line-lists at the seeded
fixture corpora, so ``mamba/linelists.py`` is guarded without the
reference tree (whose absence skips the parity suites).

Each digest is order-free: the header plus the sorted rows, every value
rendered with ``str`` and ``None`` as the empty string. The corpora are
the ``mamba_q``/parity main corpus (seed 42, 200 patients) and the two
parity seeds (7 and 1234, 200 patients), all over the fixture window.
"""

from __future__ import annotations

import hashlib

import pytest

from data_export_tool_spark.mamba.fixture_store import ensure_fixture_parquet
from data_export_tool_spark.mamba.fixtures import WINDOW_END, WINDOW_START
from data_export_tool_spark.mamba.follow_up import assemble_follow_up
from data_export_tool_spark.mamba.linelists import LINELISTS
from data_export_tool_spark.mamba.schemas import all_table_schemas

#: seed → report → ``output_digest``
GOLDEN_DIGESTS = {
    42: {
        "Tx_Curr_LineList": "e522c22c9bd5394026622c92d801e5118a7690d55de23bea987546eea90164c6",
        "Tx_Curr_VLTestReceived_LineList": "eb29b5127ccc1d4fe38dd070a8707050baf8bf9c7c148f6b457d65844eea4c75",
        "Tx_Curr_AHD_LineList": "82364ef22d480b824e7230dc42534d4ebaf749855125276861e391e70a447ea9",
        "Tx_Curr_HVL_LineList": "eb95c4533c24b43468ffd48b7b56c34094c25635a0666c73731446a272ddf9cb",
        "Tx_Curr_VLEligibleNew_LineList": "7943ccc604290aec1e31d4989012d3473be8a7fb4fe889d3523dba04a3d6f931",
        "Tx_Curr_TPT_LineList": "78682e072925c1795dd2c7f9b0803e48fe5f99124acde2c4940d9d6bd145f718",
        "Tx_Curr_OutComeList": "d78b70407576f151d3a9a3e49e1e7c244594e6d1ff67b2326b70bf1990f079d1",
        "Tx_Curr_CCANew_LineList": "777f54b6d1c320b8b2db6ccbb2bdcff829feb6d5ff6d82a168381e3407fe11e2",
        "Tx_Curr_CCA_LineList": "b7ee0edad0ff0520992edfed43e354f4b2246c0d86a6e0cd19f39e089608289c",
        "Tx_Curr_VLEligible_LineList": "d0984dee9de5d6f950799a2ad181a37c9873de3179cb6381c5f02367bd714354",
        "PMTCT_Maternal_LineList": "dfbfa5e677027140fed98a42a5ac8db1ebc0dc1a128135407ba035c4a6fa7022",
        "PMTCT_HEI_LineList": "053dd4af9ae15731e17f326abb4f34f457d520c5328addf203de2926ed801101",
    },
    7: {
        "Tx_Curr_LineList": "cee925ccf8306201b99ff34c6140528626404a9db581e425239a2c490f85e499",
        "Tx_Curr_VLTestReceived_LineList": "75edc194ba61996818c10129c7b8c778ad883e3733aa85f077cc2cf755bf583b",
        "Tx_Curr_AHD_LineList": "a3576588f7865c889b49a063c3f3512e9617e3eb1f175f6680bad393cd5a486b",
        "Tx_Curr_HVL_LineList": "47588756850e8a8520f83bdc47822da63e222b3cc012b6d5bd9aab687b6cb6cd",
        "Tx_Curr_VLEligibleNew_LineList": "46d65572e50f254bc24c112ccf35d8c95b5129364245cce828ad03a1a3dab648",
        "Tx_Curr_TPT_LineList": "eee9728c86272125a560e69520e6c6500ab4879090c963cab9693f27105bfd91",
        "Tx_Curr_OutComeList": "608474a7466d75ffc2642aea8b20fa1622b5fbe22f48d9807cf5bea078fb8af7",
        "Tx_Curr_CCANew_LineList": "3e1d430a15daa2725e733f4423733efe24a13410e9457f4a45740b1aeba382d9",
        "Tx_Curr_CCA_LineList": "b8053910426da4a0a13607e5b4eeb36aaf2ea226293f3764b4da96a583c79eae",
        "Tx_Curr_VLEligible_LineList": "d4e30d4b787555a1052893702d2cda4dbe91ba6cfd5a92b66583962cd5306cd4",
        "PMTCT_Maternal_LineList": "3afd80bea65657487c9393fe5624bfa733e2c83a53c0c267c506bf1c03ff5f66",
        "PMTCT_HEI_LineList": "9da9fdacea5df719aab7638c17ed0f58379a0df9ca56c197d3612975631c4047",
    },
    1234: {
        "Tx_Curr_LineList": "9ca8ee3beeafa8588763f76c3627403896b9dc26a9b6dd1ee6fa1204e5f39830",
        "Tx_Curr_VLTestReceived_LineList": "d8fc461e4e238024274e94dadb4e9eadcf029efa1bd594b035286a7013f3628d",
        "Tx_Curr_AHD_LineList": "c64ff19441e9ec9b1638abce40ae1c7b5c5ccb11bea481a1e5666a381cd9c7fe",
        "Tx_Curr_HVL_LineList": "ccce9b6f9a367bd126db16651611d80b030589e40e3614e4854580ab3d8b80e0",
        "Tx_Curr_VLEligibleNew_LineList": "a2a5c99b3cc90059497e6420564a4c0168389e6cea8ea8237e44b595e3741856",
        "Tx_Curr_TPT_LineList": "56d622681cb07b37d9dc2becf483c8dc53dca4c8c220ea9bf78ff98aa15c3054",
        "Tx_Curr_OutComeList": "626b6c4300f2a467914b746e5df03b2292fc484e8426c06f8c7b48286a48264c",
        "Tx_Curr_CCANew_LineList": "87914fa7362d07d70698464f00da9596cf4303debd91dbf8830ffbdb3f3efcc2",
        "Tx_Curr_CCA_LineList": "9d5c62c6d5254fa93152daa0a4a970bc7c27f7cac667e647b0bc2aeb6367e43d",
        "Tx_Curr_VLEligible_LineList": "2bf855fb55c796a68a6d520b8f22a8335e4c1a4246dd6c5969aaf431f898d236",
        "PMTCT_Maternal_LineList": "3043bdd2562eda80d5ae5b4fcdf3e7e2bf27adcfce6da17d887beb6b23ce747a",
        "PMTCT_HEI_LineList": "9d929be59337bf2b5fdf0ab477c2bb97ed3bbe45b7e839bb5a55bdf64d70f28f",
    },
}


def output_digest(df) -> str:
    """sha256 of ``df``'s header and its sorted rendered rows."""

    def render(row) -> str:
        return "\x1f".join("" if v is None else str(v) for v in row)

    rows = sorted(render(r) for r in df.collect())
    return hashlib.sha256("\n".join([render(df.columns), *rows]).encode()).hexdigest()


def linelist_digests(spark, seed: int) -> dict[str, str]:
    """Each line-list's ``output_digest`` over the fixture corpus at
    ``seed`` (200 patients) and the fixture window."""
    schemas = all_table_schemas()
    frames = {
        name: spark.read.schema(schemas[name]).parquet(path)
        for name, path in ensure_fixture_parquet(seed=seed).items()
    }
    wide = assemble_follow_up(frames).cache()
    try:
        return {
            name: output_digest(
                builder(frames, WINDOW_START, WINDOW_END, follow_up=wide)
            )
            for name, builder in LINELISTS.items()
        }
    finally:
        wide.unpersist()


@pytest.mark.parametrize(
    "seed",
    [42, pytest.param(7, marks=pytest.mark.slow), pytest.param(1234, marks=pytest.mark.slow)],
)
def test_linelists_match_goldens(spark, seed):
    assert linelist_digests(spark, seed) == GOLDEN_DIGESTS[seed]
