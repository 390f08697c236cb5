"""DataLoader — the read → transform → dq → write → terminate pipeline.

Reference parity: ``algorithms/data_loader.py:33-597``, including the one
custom planning pass the reference performs: **streaming micro-batch
re-planning** (``data_loader.py:265-330``). At ACON-parse time we walk each
streaming transform chain; from the first transformer that cannot run on an
unbounded DataFrame (window condensations, row ids — see
``UNSUPPORTED_STREAMING_TRANSFORMERS``) onward, the tail of the chain is moved
into the OutputSpec's micro-batch plan and executed inside ``foreachBatch``,
preserving order. DQ specs attached to streaming flows always run per
micro-batch.

Everything else is lazy DataFrame composition — Catalyst sees the whole
read→transform→write plan and optimizes it end-to-end (filter pushdown into
the source scan, column pruning across transformer chains, broadcast
selection inside ``join`` transformers).

In-motion DQ takes one of two paths per spec (``dq/dq_factory``). A suite
whose frame feeds the ACON's first output spec, a non-Delta ``merge``, and
nothing else, rides that merge's staged write as one ``observe`` and is
decided between staging and swap, so it costs no pass of its own. Every
other suite runs its pass before the writes, as the reference does; its
``cache_df`` cache is released once the writes are done. ``execute`` logs
each phase's wall time (read, transform, dq, write, terminate) in one INFO
line.
"""

from __future__ import annotations

import logging
import time
from collections import OrderedDict
from contextlib import ExitStack, contextmanager
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame

from lakehouse_engine_spark.core.definitions import (
    DQSpec,
    OutputFormat,
    OutputSpec,
    ReadType,
    TransformSpec,
    WriteType,
    WrongArgumentsError,
)
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.dq.dq_factory import DQFactory
from lakehouse_engine_spark.io import merge_writer
from lakehouse_engine_spark.io.reader_factory import ReaderFactory
from lakehouse_engine_spark.io.writer_factory import WriterFactory
from lakehouse_engine_spark.transformers.transformer_factory import (
    TransformerFactory,
    unsupported_streaming_transformers,
)
from lakehouse_engine_spark.utils.acon_utils import parse_acon_lists

_LOGGER = logging.getLogger(__name__)
PHASES = ("read", "transform", "dq", "write", "terminate")


class DataLoader:
    """Executes one ACON end-to-end."""

    def __init__(self, acon: dict):
        self.spark = ExecEnv.get_or_create(config=acon.get("exec_env"))
        (
            self.input_specs,
            self.transform_specs,
            self.dq_specs,
            self.output_specs,
            self.terminate_specs,
        ) = parse_acon_lists(acon)
        self._streaming_ids = {
            s.spec_id for s in self.input_specs if s.read_type == ReadType.STREAMING.value
        }
        self._replan_streaming_micro_batches()
        # output spec id -> the decision of the suite observed on its frame
        self._checks: Dict[str, Callable[[bool], None]] = {}

    # ---------------------------------------------------------------- planning

    def _is_streaming_chain(self, spec: TransformSpec) -> bool:
        """A transform chain is streaming iff its (transitive) input is."""
        seen, cur = set(), spec.input_id
        by_id = {t.spec_id: t for t in self.transform_specs}
        while cur in by_id and cur not in seen:
            seen.add(cur)
            cur = by_id[cur].input_id
        return cur in self._streaming_ids

    def _replan_streaming_micro_batches(self) -> None:
        """Move stream-incompatible transformer tails into foreachBatch plans."""
        gated = unsupported_streaming_transformers()
        for tspec in self.transform_specs:
            if not self._is_streaming_chain(tspec):
                continue
            cut = None
            if tspec.force_streaming_foreach_batch_processing:
                cut = 0
            else:
                for i, t in enumerate(tspec.transformers):
                    if t.function in gated:
                        cut = i
                        break
            if cut is None:
                continue
            tail = tspec.transformers[cut:]
            tspec.transformers = tspec.transformers[:cut]
            for ospec in self.output_specs:
                if self._feeds(tspec.spec_id, ospec.input_id):
                    ospec.streaming_micro_batch_transformers = (
                        list(tail) + list(ospec.streaming_micro_batch_transformers)
                    )
        # Streaming DQ always runs per micro-batch.
        dq_ids = {d.spec_id: d for d in self.dq_specs}
        for ospec in self.output_specs:
            d = dq_ids.get(ospec.input_id)
            if d is not None and self._upstream_is_streaming(d.input_id):
                ospec.streaming_micro_batch_dq_processors = list(
                    ospec.streaming_micro_batch_dq_processors
                ) + [d]
                self.dq_specs = [s for s in self.dq_specs if s.spec_id != d.spec_id]
                ospec.input_id = d.input_id

    def _feeds(self, spec_id: str, output_input_id: str) -> bool:
        """True when output_input_id consumes spec_id directly or via DQ specs."""
        if spec_id == output_input_id:
            return True
        return any(
            d.spec_id == output_input_id and d.input_id == spec_id for d in self.dq_specs
        )

    def _upstream_is_streaming(self, spec_id: str) -> bool:
        if spec_id in self._streaming_ids:
            return True
        by_id = {t.spec_id: t for t in self.transform_specs}
        return spec_id in by_id and self._is_streaming_chain(by_id[spec_id])

    # --------------------------------------------------------------- execution

    def read(self) -> "OrderedDict[str, DataFrame]":
        data: "OrderedDict[str, DataFrame]" = OrderedDict()
        for spec in self.input_specs:
            data[spec.spec_id] = ReaderFactory.get_data(self.spark, spec)
        return data

    def transform(self, data: "OrderedDict[str, DataFrame]") -> "OrderedDict[str, DataFrame]":
        for spec in self.transform_specs:
            if spec.input_id not in data:
                raise WrongArgumentsError(
                    f"TransformSpec {spec.spec_id}: unknown input_id {spec.input_id}"
                )
            df = data[spec.input_id]
            for t in spec.transformers:
                df = df.transform(TransformerFactory.get_transformer(t, data))
            data[spec.spec_id] = df
        return data

    def _observing_output(self, spec: DQSpec) -> Optional[str]:
        """The output spec whose staged merge decides ``spec``'s suite, or
        None when the suite runs before the writes: the spec must be
        observable, and its only reader the first output spec, a non-Delta
        merge (``dq/dq_factory``)."""
        readers = [o for o in self.output_specs if o.input_id == spec.spec_id]
        readers += [d for d in self.dq_specs if d.input_id == spec.spec_id]
        if len(readers) != 1 or readers[0] is not self.output_specs[0]:
            return None
        out = readers[0]
        if out.write_type != WriteType.MERGE.value or not merge_writer.rewrites(out.data_format):
            return None
        return out.spec_id if DQFactory.observable(spec) else None

    def process_dq(
        self, data: "OrderedDict[str, DataFrame]", held: ExitStack
    ) -> "OrderedDict[str, DataFrame]":
        """Run or attach each batch suite; ``held`` keeps the ``cache_df``
        caches until the caller closes it after the writes."""
        for spec in self.dq_specs:
            df = data[spec.input_id]
            if df.isStreaming:
                continue  # re-planned into foreachBatch
            output = self._observing_output(spec)
            if output is not None:
                data[spec.spec_id], self._checks[output] = DQFactory.observe(self.spark, spec, df)
                continue
            held.enter_context(DQFactory.cached(spec, df))
            data[spec.spec_id] = DQFactory.run_dq_process(self.spark, spec, df)
        return data

    def _micro_batch_fn(self, spec: OutputSpec, data: Dict[str, DataFrame]):
        """Build the foreachBatch body: tail transformers then DQ processors."""
        if not spec.streaming_micro_batch_transformers and not spec.streaming_micro_batch_dq_processors:
            return None

        def _apply(batch_df: DataFrame, batch_id: int, sink) -> Optional[DataFrame]:
            out = batch_df
            for t in spec.streaming_micro_batch_transformers:
                out = out.transform(TransformerFactory.get_transformer(t, data))
            with ExitStack() as held:  # cache_df: released once the batch is written
                for d in spec.streaming_micro_batch_dq_processors:
                    held.enter_context(DQFactory.cached(d, out))
                    out = DQFactory.run_dq_process(out.sparkSession, d, out)
                return sink(out)

        return _apply

    def write(self, data: "OrderedDict[str, DataFrame]") -> Dict[str, DataFrame]:
        written: Dict[str, DataFrame] = {}
        for spec in self.output_specs:
            if spec.input_id not in data:
                raise WrongArgumentsError(
                    f"OutputSpec {spec.spec_id}: unknown input_id {spec.input_id}"
                )
            result = WriterFactory.write(
                self.spark,
                data[spec.input_id],
                spec,
                self._micro_batch_fn(spec, data),
                self._checks.get(spec.spec_id),
            )
            if result is not None:
                written[spec.spec_id] = result
        return written

    def terminate(self, data: Dict[str, DataFrame]) -> None:
        from lakehouse_engine_spark.terminators.terminator_factory import TerminatorFactory

        for spec in self.terminate_specs:
            TerminatorFactory.execute(self.spark, spec, data)

    @staticmethod
    @contextmanager
    def _phase(times: Dict[str, float], name: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            times[name] = time.perf_counter() - start

    def execute(self) -> Optional[Dict[str, DataFrame]]:
        times: Dict[str, float] = {}
        try:
            with ExitStack() as held:  # the pre-write suites' caches
                with self._phase(times, "read"):
                    data = self.read()
                with self._phase(times, "transform"):
                    data = self.transform(data)
                with self._phase(times, "dq"):
                    data = self.process_dq(data, held)
                with self._phase(times, "write"):
                    written = self.write(data)
            with self._phase(times, "terminate"):
                self.terminate(data)
            return written or None
        except Exception as e:
            # failure notifications hook (reference data_loader.py:241-243)
            from lakehouse_engine_spark.terminators.notifiers import NotifierFactory

            NotifierFactory.generate_failure_notification(self.terminate_specs, e)
            raise
        finally:
            _LOGGER.info(
                "DataLoader phase wall s: %s",
                " ".join(f"{p}={times[p]:.3f}" for p in PHASES if p in times),
            )
