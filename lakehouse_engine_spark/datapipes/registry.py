"""ACON transformer registry for datapipes operators (filled as ops land).

Streaming classification lives HERE, at registration, not in a
hand-maintained set: every op declares ``streaming_ok`` and the
DataLoader's micro-batch re-planner derives its gate from the registry
(``transformer_factory.unsupported_streaming_transformers()``). The
default is ``False`` — corpus second passes, non-time windows, iterative
algorithms, and driver-artifact builders all get relocated into
``foreachBatch`` unless an op explicitly proves it runs on an unbounded
DataFrame (row-space projections, Arrow-batched mapInPandas/mapInArrow
row maps, stream-static joins, watermarked time windows, and the
``applyInPandasWithState`` stateful family). Every ``streaming_ok=True``
op is exercised natively on a real stream by
``tests/test_streaming_gate.py`` — adding the flag without a passing
case there fails the suite.
"""

from __future__ import annotations

SIMPLE: dict = {}

# contextual datapipes ops: factory(data: Dict[str, DataFrame], **args) —
# they resolve other dataflow spec_ids, like the core `join` transformer
CONTEXTUAL: dict = {}

# ops declared safe to keep in the native streaming plan (everything
# else is gated into foreachBatch by the micro-batch re-planner)
STREAMING_OK: set = set()


def register(name: str, streaming_ok: bool = False):
    """Decorator: expose a datapipes factory as an ACON transformer.

    ``streaming_ok=True`` declares the op streams natively (kept in the
    unbounded plan); the default ``False`` gates it into foreachBatch.
    Conditional streamers (dedup_exact's watermark arm, sessionize's
    watermarked window) mark True — their factories fail LOUDLY when the
    streaming precondition is missing, which beats silently computing a
    per-batch answer for what looks like a global op.
    """

    def _wrap(fn):
        SIMPLE[name] = fn
        if streaming_ok:
            STREAMING_OK.add(name)
        return fn

    return _wrap


def register_with(
    name: str, op, id_arg: str, frame_arg: str, streaming_ok: bool = False
) -> None:
    """Expose ``op`` as the contextual ACON op ``name``: the factory takes
    the dataflow dict plus ``id_arg=<spec_id>`` and ``op``'s own
    arguments; applied to a frame, it passes that spec's frame to ``op``
    as ``frame_arg``, or raises ``ValueError`` naming ``name`` when the
    spec_id is unknown."""

    def factory(data: dict, **args):
        if id_arg not in args:
            raise TypeError(f"{name}: missing required argument {id_arg!r}")
        spec_id = args.pop(id_arg)

        def _apply(df):
            if spec_id not in data:
                raise ValueError(f"{name}: unknown spec_id {spec_id!r}")
            return op(**{frame_arg: data[spec_id]}, **args)(df)

        return _apply

    factory.id_arg = id_arg
    CONTEXTUAL[name] = factory
    if streaming_ok:
        STREAMING_OK.add(name)
