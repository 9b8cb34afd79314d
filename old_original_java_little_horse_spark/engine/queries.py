"""Engine-fold parity queries (registered once the fold lands).

See `engine/fold.py` for the state machine and `engine/batch.py` for
the mapInPandas driver.  Queries are added by importing those
modules' registrations.
"""

from __future__ import annotations

try:  # engine fold queries register themselves on import
    from . import batch_queries  # noqa: F401
except ImportError:  # fold not built yet (round-1 bootstrap order)
    pass
