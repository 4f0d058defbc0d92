"""The benchmark's named workloads: which queries run on which inputs.

Both workloads run the ten headline queries (the registered operators
behind ``bench.py``'s contract line; q8 is the registered exact
``sim_cosine_topk``). They differ only in input size, which decides the
physical path each operator dispatches to:

* ``contract_sf0.1``: the sf0.1 test tables themselves. Every query is
  below every size knee, so no layout is built; the only scratch entry is
  q8's validated copy of the embeddings, which every size gets. Each query
  costs a few local-mode job floors.
* ``olap_x7``: the relational tables tiled x7 (4.2 M lineitem, 1.05 M
  orders, 105 k customers, see ``inputs.py``); events, documents and
  embeddings stay the sf0.1 tables. That puts q1 (summary layout), q2
  (summary layout) and q4 (bucketed layout) past their knees, so the first
  call builds three layouts and later calls read them, while q3 and q9 stay
  plain scans and exchanges over the larger tables.
"""

from __future__ import annotations

from typing import NamedTuple

HEADLINE = (
    ("q1_pricing_summary", "agg_group_sums"),
    ("q2_star_join", "join_multiway_star"),
    ("q3_topk_window", "win_row_number_topk"),
    ("q4_semi_anti", "join_left_semi"),
    ("q5_tumbling", "agg_time_bucket"),
    ("q6_json_extract", "fn_json"),
    ("q7_token_stats", "text_tokenize_stats"),
    ("q8_cosine_topk", "sim_cosine_topk"),
    ("q9_rollup", "agg_rollup_partial_reagg"),
    ("q10_distinct", "agg_distinct_count"),
)


class Workload(NamedTuple):
    base: str  # vendored test tables under perfbench/data
    tiles: int  # replicas of the relational tables
    queries: tuple[tuple[str, str], ...]  # (query id, registered op id)


WORKLOADS = {
    "contract_sf0.1": Workload("sf0.1", 1, HEADLINE),
    "olap_x7": Workload("sf0.1", 7, HEADLINE),
}

QUERY_IDS = tuple(q for q, _ in HEADLINE)
