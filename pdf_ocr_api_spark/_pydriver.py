"""Driver-side PySpark API overhead: turn off per-call debug-origin capture.

PySpark 4 wraps every DataFrame/Column API function with an error-context
decorator (``pyspark.errors.utils._with_origin``) that, per call, walks
the Python stack, probes for IPython (an ``import`` attempt each call),
reads a SQL conf over py4j, and sets/clears a JVM thread-local
(``PySparkCurrentOrigin``) — about four extra py4j round trips per API
call.  The only thing this buys is a "DataFrame context" call-site line
in error messages.  On expression-heavy plans the cost is real driver
wall-clock: building this repo's conversation query issues ~5,900 py4j
commands, and the wrapper accounts for half of them — measured 1.0 s →
0.51 s for one ``conversation_records`` construction on the bench box
(OPTIMIZATION_r06.md), identical schema and results.  The cost is
scale-INDEPENDENT driver overhead (guide §4's boundary tax, driver
side): a 100 TB job pays exactly the same seconds per query built.

The supported switch is the STATIC conf
``spark.python.sql.dataFrameDebugging.enabled=false`` — static means it
must be set when the session is built, which a library that receives an
already-built session cannot do.  The gate, however, is enforced purely
on the Python side: ``pyspark.errors.utils.is_debugging_enabled()``
reads the conf ONCE into the module global ``_enable_debugging_cache``
and every decorated call consults only that cached bool (the JVM never
reads the conf; ``PySparkCurrentOrigin`` is only ever set by this same
Python wrapper).  Pre-setting the cached bool is therefore exactly
equivalent to having built the session with the conf off.

``disable_dataframe_debug_origin()`` does that, guarded:

* opt-out: set ``PDF_OCR_SPARK_DF_DEBUGGING=1`` to keep PySpark's
  default error-context behavior (e.g. while debugging a failing job);
* applies only on the PySpark releases this reasoning was checked
  against (``VERIFIED_PYSPARK``) and only when the private global exists
  with its expected type — any other version is a silent no-op, and the
  wrapper then just keeps its default behavior;
* honours an already-cached ``True``: the conf was read with debugging
  on before the package was imported, and that choice stands;
* never touches a session and never raises — safe to run at package
  import, including inside executor Python workers (where the
  DataFrame API is never called and the flag is inert).

Computed results are unaffected by construction: the wrapper only
decorates error METADATA on failures.  Asserted equivalent in
``tests/test_pydriver.py`` (same schema + rows with the gate forced on
vs off).
"""

from __future__ import annotations

import os

__all__ = ["disable_dataframe_debug_origin"]

# re-verify the module docstring's claims before adding a release here
VERIFIED_PYSPARK = ("4.1.2",)


def disable_dataframe_debug_origin() -> bool:
    """Disable PySpark's per-call debug-origin capture for this process.

    Returns True when the gate was switched off (or already off),
    False when opted out, already on, or on an unverified PySpark.
    """
    if os.environ.get("PDF_OCR_SPARK_DF_DEBUGGING", "") == "1":
        return False
    try:
        import pyspark
        import pyspark.errors.utils as _eu
    except Exception:  # pragma: no cover - pyspark always present in repo use
        return False
    if pyspark.__version__ not in VERIFIED_PYSPARK:
        return False
    if not hasattr(_eu, "_enable_debugging_cache"):  # pragma: no cover
        return False  # internals moved on this PySpark version: no-op
    cur = _eu._enable_debugging_cache
    if cur is not None and cur is not False:  # a cached True, or an unknown type
        return False
    _eu._enable_debugging_cache = False
    return True
