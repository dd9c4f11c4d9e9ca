import threading

import pytest

import tracing


def test_self_time_subtracts_the_union_of_children():
    spans = [
        tracing.Span(1, "op:x", 0.0, 10.0, None, "main"),
        tracing.Span(2, "medallion.run_silver", 1.0, 5.0, 1, "main"),
        tracing.Span(3, "storage.commit:append", 2.0, 4.0, 2, "main"),
        tracing.Span(4, "storage.read:read", 3.0, 6.0, 2, "t1"),
    ]
    out = tracing.self_times(spans)
    assert out["op"] == pytest.approx(6.0)
    assert out["medallion"] == pytest.approx(1.0)  # 4 s minus [2, 5] clipped
    assert out["storage"] == pytest.approx(5.0)


def test_worker_thread_spans_hang_under_the_op_thread():
    tracer = tracing.Tracer()
    with tracer.op("w#0#0"):
        with tracer.span("medallion.run_incremental"):
            worker = threading.Thread(target=_in_span, args=(tracer,))
            worker.start()
            worker.join(timeout=10)
            assert not worker.is_alive()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["medallion.build_fact"].parent == by_name["medallion.run_incremental"].sid
    assert by_name["medallion.run_incremental"].parent == by_name["op:w#0#0"].sid


def _in_span(tracer):
    with tracer.span("medallion.build_fact"):
        pass


def test_nested_calls_of_one_layer_record_only_the_outermost():
    tracer = tracing.Tracer()

    class Store:
        def count(self):
            return 1

        def read(self):
            return self.count()

    Store.count = tracer.wrap("storage.meta:count", Store.count, "storage.")
    Store.read = tracer.wrap("storage.read:read", Store.read, "storage.")
    assert Store().read() == 1
    assert [s.name for s in tracer.spans] == ["storage.read:read"]


def test_disabled_tracer_records_nothing():
    tracer = tracing.Tracer(enabled=False)
    with tracer.op("x"), tracer.span("plans.builder"):
        pass
    assert tracer.spans == []
