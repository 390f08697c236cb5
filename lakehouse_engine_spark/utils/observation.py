"""Reading a ``DataFrame.observe`` result without blocking.

Observed metrics ride an action the caller runs anyway (a staged write, a
materialization); :func:`observed_row` reads them once that action has
returned. A reader falls back to a pass of its own when they are absent.
"""

from __future__ import annotations

import logging
import time
from typing import Optional

from pyspark.sql import Observation

_LOGGER = logging.getLogger(__name__)

# observed metrics arrive through Spark's listener bus, just after the
# action returns; past this wait the reader runs its own pass
OBSERVATION_WAIT_S = 30.0


def observed_row(observation: Observation) -> Optional[dict]:
    """The observed metrics by name, or None when they did not arrive with
    values. Call it only after an action ran the observed plan.

    Never ``Observation.get`` unchecked: it blocks for good on a plan that
    never ran, and fails when adaptive execution pruned the observed
    subtree of an empty source (its future holds an empty row)."""
    future = observation._jo.future()
    deadline = time.monotonic() + OBSERVATION_WAIT_S
    while not future.isCompleted():
        if time.monotonic() > deadline:
            _LOGGER.warning("observation did not arrive in %.0f s", OBSERVATION_WAIT_S)
            return None
        time.sleep(0.005)
    done = future.value().get()
    if done.isFailure() or done.get().length() == 0:
        return None
    return observation.get
