"""Producers the benchmark attaches by dotted name.

The batch functions are closures, so cloudpickle ships them to the Python
workers by value and the workers need not import this package.
"""

from __future__ import annotations

from kiji_scoring_spark.producers import PandasProducer


class PandasDoubleLatest(PandasProducer):
    """The Arrow-path twin of ``lib.DoubleLatestValueProducer``:
    score = 2 × the newest value of ``value_versions``."""

    def __init__(self):
        def score(pdf):
            return pdf["value_versions"].map(
                lambda v: 2.0 * v[0]["value"] if v is not None and len(v) else None
            )

        super().__init__(batch_fn=score, data_request=["value:versions"],
                         output_column="value:versions")


class SleepyProducer(PandasProducer):
    """A producer that sleeps far past any budget the benchmark gives it,
    so every call that attaches it takes the cancel/drain/stale-fallback
    path."""

    def __init__(self):
        def score(pdf):
            import time

            time.sleep(60)
            return pdf["value_versions"].map(lambda v: 0.0)

        super().__init__(batch_fn=score, data_request=["value:versions"],
                         output_column="value:versions")
