from perfbench.trace import LAYERS, layer_of, per_layer_names


def test_layer_of_module():
    p = "mu_swarm_logger_service_spark."
    assert layer_of(p + "operators.joins") == "operators"
    assert layer_of(p + "sources.sparql") == "sources"
    assert layer_of(p + "streaming.queries") == "streaming"
    assert layer_of(p + "llm.dedup") == "llm.dedup"
    assert {layer_of(p + m) for m in (
        "llm.dedup", "llm.similarity", "llm.clustering", "llm.text",
        "operators.scans", "sources.triples", "streaming.queries")} == set(
            LAYERS)


def test_per_layer_metric_names():
    names = per_layer_names()
    assert len(names) == len(set(names)) == 7 * 15 + 16
