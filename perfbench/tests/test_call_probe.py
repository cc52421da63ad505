"""CallProbe spans the program's calls between its own layers and puts
every function back afterwards, in its module and where it was imported
by name."""

import pytest

import sentinel_spark.functions.cluster as cluster
import sentinel_spark.pipelines as pipelines
from tracing import CallProbe, Tracer


def test_call_probe_wraps_spans_and_restores():
    original = cluster.dedup_clusters
    assert pipelines.dedup_clusters is original
    tracer = Tracer(True)
    with tracer.span("request", layer="pipelines", request="r0"):
        with CallProbe(tracer, {"functions.cluster": ("dedup_clusters",)}):
            assert cluster.dedup_clusters is not original
            assert pipelines.dedup_clusters is cluster.dedup_clusters
            with pytest.raises(AttributeError):
                pipelines.dedup_clusters(None, None)  # fails inside, after the span opened
    assert cluster.dedup_clusters is original
    assert pipelines.dedup_clusters is original
    (call,) = [s for s in tracer.spans if s.get("call")]
    assert call["name"] == "functions.cluster.dedup_clusters"
    assert call["layer"] == "functions.cluster" and call["request"] == "r0"
    assert call["end"] is not None


def test_call_probe_restores_when_a_name_is_missing():
    original = cluster.dedup_clusters
    probe = CallProbe(Tracer(True), {"functions.cluster": ("dedup_clusters", "no_such_function")})
    with pytest.raises(AttributeError):
        probe.__enter__()
    assert cluster.dedup_clusters is original and pipelines.dedup_clusters is original
