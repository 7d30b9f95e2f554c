from perfbench.sparkrest import _ts, kernel_names, rows_into

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- == Final Plan ==
   ResultQueryStage (12)
   +- MapInPandas (9)
      +- * SortMergeJoin Inner (8)
         :- MapInPandas (3)
         :  +- * Scan parquet (1)
         +- * Scan parquet (2)
+- == Initial Plan ==
   MapInPandas (19)
   +- SortMergeJoin Inner (18)
      :- MapInPandas (15)


(3) MapInPandas
Input [3]: [addr_id#1L, lat#2, lon#3]
Arguments: expand(addr_id#1L, lat#2, lon#3)#40, [addr_id#41L], false

(9) MapInPandas
Input [9]: [addr_id#41L]
Arguments: refine(addr_id#41L)#50, [addr_id#51L], false

(15) MapInPandas
Arguments: expand(addr_id#1L)#40, [addr_id#41L], false

(19) MapInPandas
Arguments: refine(addr_id#41L)#50, [addr_id#51L], false
"""


def test_kernel_names_follow_the_final_plan_tree_top_down():
    assert kernel_names(PLAN, 2) == ["refine", "expand"]


def test_kernel_names_unknown_when_the_graph_disagrees():
    assert kernel_names(PLAN, 3) == ["?"] * 3


# a cached relation (an adaptive plan of its own, with its own initial
# plan) read twice: at the top and again inside another cached plan
NESTED = """== Physical Plan ==
AdaptiveSparkPlan (30)
+- == Final Plan ==
   ResultQueryStage (20)
   +- Union (19)
      :- InMemoryTableScan (1)
      :     +- InMemoryRelation (2)
      :           +- AdaptiveSparkPlan (8)
                        +- == Final Plan ==
                           MapInPandas (4)
                           +- Scan parquet (3)
                        +- == Initial Plan ==
                           MapInPandas (7)
                           +- Scan parquet (3)
      +- InMemoryTableScan (10)
            +- InMemoryRelation (11)
                  +- AdaptiveSparkPlan (16)
                        +- == Final Plan ==
                           MapInPandas (13)
                           +- InMemoryTableScan (1)
                                 +- InMemoryRelation (2)
                                       +- AdaptiveSparkPlan (8)
                        +- == Final Plan ==
                           MapInPandas (4)
                           +- Scan parquet (3)
                        +- == Initial Plan ==
                           MapInPandas (7)
                           +- Scan parquet (3)
                        +- == Initial Plan ==
                           MapInPandas (15)
                           +- Scan parquet (3)
+- == Initial Plan ==
   Union (29)
   :- MapInPandas (27)


(4) MapInPandas
Arguments: run(addr_id#1L)#40, [addr_id#41L], false

(7) MapInPandas
Arguments: run(addr_id#1L)#40, [addr_id#41L], false

(13) MapInPandas
Arguments: refine(addr_id#1L)#50, [addr_id#51L], false

(15) MapInPandas
Arguments: refine(addr_id#1L)#50, [addr_id#51L], false

(27) MapInPandas
Arguments: expand(addr_id#1L)#60, [addr_id#61L], false
"""


def test_kernel_names_skip_nested_initial_plans():
    assert kernel_names(NESTED, 3) == ["run", "refine", "run"]
    # the graph may show a reused cached plan once
    assert kernel_names(NESTED, 2) == ["run", "refine"]


def test_rest_timestamps_are_utc_epoch_seconds():
    assert _ts("1970-01-01T00:00:01.500GMT") == 1.5


# MapInPandas(3) ← Project(2) ← BroadcastHashJoin(1) ← {Scan(0), Scan(4)}
GRAPH = [
    {"nodeId": 0, "nodeName": "Scan parquet", "metrics": [
        {"name": "number of output rows", "value": "300"}]},
    {"nodeId": 1, "nodeName": "BroadcastHashJoin", "metrics": [
        {"name": "number of output rows", "value": "1,244"}]},
    {"nodeId": 2, "nodeName": "Project", "metrics": []},
    {"nodeId": 3, "nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "value": "9"}]},
    {"nodeId": 4, "nodeName": "Scan parquet", "metrics": [
        {"name": "number of output rows", "value": "50"}]},
]
EDGES = [{"fromId": 2, "toId": 3}, {"fromId": 1, "toId": 2},
         {"fromId": 0, "toId": 1}, {"fromId": 4, "toId": 1}]


def test_rows_into_skips_nodes_without_a_row_count():
    assert rows_into(3, GRAPH, EDGES) == 1244


def test_rows_into_unknown_at_a_leaf():
    assert rows_into(0, GRAPH, EDGES) is None
