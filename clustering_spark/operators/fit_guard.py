"""Driver-side watchdog for MLlib estimator fits.

Why this exists: an MLlib fit can hang FOREVER without native BLAS.
The observed case was ``GaussianMixture``: its EM step eigendecomposes
each component covariance via pure-Java F2J LAPACK, and a
NaN/degenerate covariance sends ``Dsyev``/``Dlascl`` into an unbounded
spin with the executor threads RUNNABLE — observed live for 56+
minutes on tight (sigma~0.1) blobs.  The trigger is
nondeterministic (treeAggregate summation order), so "it passed this
run" is not a fix.  A job that hangs is strictly worse than one that
crashes: it silently eats the cluster.

``guarded_fit`` guarantees driver-side termination: the fit runs in a
worker thread under a unique Spark job group with
``interruptOnCancel=True``; if it exceeds the timeout the group is
cancelled (``SparkContext.cancelJobGroup``), the blocked ``fit``
raises inside the worker, and the caller gets ``FitTimeout`` — free to
retry or surface a clear error.  PySpark's pinned-thread mode (default
since 3.2) maps each Python thread to its own JVM thread, so the job
group set inside the worker scopes exactly the fit's jobs and nothing
else.

Every MLlib ``.fit(`` in this repo goes through here; the one caller is
the quality-model pipeline (operators/quality_model.py).  The
per-segment clustering fitters (numpy k-means/GMM in
operators/clustering.py) don't need it: they run bounded iteration
counts with no LAPACK.

A fit that completes returns the identical model it would have
returned unguarded: this is a robustness addition, not a semantic
change.
"""

from __future__ import annotations

import os
import threading
import uuid
import warnings

__all__ = ["FitTimeout", "guarded_fit"]

# generous by default: test-scale fits finish in seconds; a fit still
# running after 5 minutes in this repo's usage is hung
DEFAULT_FIT_TIMEOUT = 300.0

# after cancelJobGroup the blocked fit normally raises within a scheduler
# round-trip; don't wait forever for a zombie task thread that ignores
# Thread.interrupt (F2J compute loops never poll the flag)
_CANCEL_GRACE = 10.0


class FitTimeout(RuntimeError):
    """An MLlib fit exceeded its watchdog timeout and was cancelled."""


def guarded_fit(estimator, df, timeout: float = DEFAULT_FIT_TIMEOUT, desc: str = ""):
    """``estimator.fit(df)`` with guaranteed driver-side termination.

    Returns the fitted model, re-raises the fit's own exception, or
    raises :class:`FitTimeout` after cancelling the fit's job group.
    ``estimator`` is anything with ``.fit(df)`` (an MLlib estimator or
    Pipeline).  ``desc`` labels the job group in the Spark UI.

    Caveats (by design, documented rather than hidden):

    * The job-group scoping relies on PySpark's pinned-thread mode
      (default since 3.2).  With ``PYSPARK_PIN_THREAD=false`` every
      Python thread shares one JVM thread, so ``setJobGroup`` leaks to
      concurrent jobs and a timeout's ``cancelJobGroup`` could cancel
      UNRELATED work — in that configuration this function warns and
      the caller should serialize fits.
    * Each timeout leaks one daemon thread blocked in ``fit`` until the
      cancelled job unwinds (or forever, for an interrupt-deaf F2J
      compute spin).  Bounded in practice: one thread per strike, and
      ``daemon=True`` keeps interpreter exit unblocked.
    """
    if os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "false":
        warnings.warn(
            "guarded_fit: PYSPARK_PIN_THREAD=false — job groups are set "
            "on a shared JVM thread, so a watchdog cancellation may hit "
            "unrelated concurrent jobs. Serialize fits or re-enable "
            "pinned-thread mode.",
            RuntimeWarning,
            stacklevel=2,
        )
    sc = df.sparkSession.sparkContext
    group = f"guarded-fit-{uuid.uuid4().hex[:12]}"
    box: dict = {}

    def _run():
        try:
            # set INSIDE the worker thread: job groups are
            # thread-local, and pinned-thread mode gives this Python
            # thread its own JVM thread, so only the fit's jobs join
            # the group
            sc.setJobGroup(group, desc or "guarded MLlib fit", interruptOnCancel=True)
            box["model"] = estimator.fit(df)
        except BaseException as exc:  # noqa: BLE001 - relayed to caller
            box["error"] = exc

    t = threading.Thread(target=_run, name=group, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        try:
            sc.cancelJobGroup(group)
        except Exception:  # pragma: no cover - cancellation best-effort
            pass
        # give the cancelled fit a moment to unwind; daemon=True means a
        # truly stuck thread (interrupt-deaf compute spin) can't block
        # interpreter exit either way
        t.join(_CANCEL_GRACE)
        raise FitTimeout(
            f"MLlib fit {desc or type(estimator).__name__!s} exceeded "
            f"{timeout:.0f}s and was cancelled (job group {group}). "
            "This is the known F2J-LAPACK spin on degenerate covariances; "
            "callers should retry the next seed or fall back."
        )
    if "error" in box:
        raise box["error"]
    return box["model"]
