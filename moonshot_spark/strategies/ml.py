"""MoonshotML — ML-scored strategy variant (SURVEY.md §2.9 D23).

Reference: moonshot/strategies/ml.py (543 LoC).  The reference stacks
per-field feature matrices into a (n_samples, n_features) numpy array,
calls ``model.predict`` once on the driver, and unstacks predictions back
into the panel (ml.py:444-517).

Spark design: features are ordinary panel columns (one column per feature);
scoring is a vectorized ``pandas_udf`` over Arrow batches with the model
broadcast to executors — each batch builds its (batch, n_features) array
and calls predict locally.  At 100 TB this is embarrassingly parallel where
the reference is driver-RAM-bound (ml.py:485-492 explicit ``del``).
"""

from __future__ import annotations

import pickle

import pandas as pd  # module-level: pandas_udf resolves stringified hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from moonshot_spark.strategies.base import Moonshot, MoonshotParameterError


class KerasModelHandle:
    """Executor-safe wrapper for Keras/HDF5 models (reference ml.py:219-221).

    Keras models generally don't pickle, but Spark broadcast requires
    pickling.  The handle serializes as the model *path* and lazily
    re-loads once per executor process (at scale the .h5 lives on shared
    storage, so a per-executor load is the standard pattern).  When the
    underlying model DOES pickle (e.g. a test fake), it rides along in the
    broadcast and no executor-side reload happens.
    """

    def __init__(self, path: str):
        self._path = path
        self._model = None

    @staticmethod
    def _load_keras_model(path):
        try:
            from keras.models import load_model
        except ImportError:
            try:
                from tensorflow.keras.models import load_model
            except ImportError:
                raise MoonshotParameterError(
                    "loading {0!r} requires keras (or tensorflow); install "
                    "it or pass the loaded model object as "
                    "model=".format(path))
        return load_model(path)

    def _ensure(self):
        if self._model is None:
            self._model = self._load_keras_model(self._path)
        return self._model

    def predict(self, X):
        return self._ensure().predict(X)

    def __getstate__(self):
        model = self._model
        try:
            pickle.dumps(model)
        except Exception:
            model = None    # unpicklable (real TF) → reload from path
        return {"_path": self._path, "_model": model}


def _load_model_file(path: str):
    """The model stored at ``path``, by the reference's dispatch (ml.py:
    211-225): "joblib" in the path → joblib, a keras ``.h5``/``.keras``
    file → a ``KerasModelHandle``, anything else → pickle.  Other
    frameworks pass their model object as ``model=`` instead."""
    if "joblib" in path:
        import joblib
        return joblib.load(path)
    if "keras.h5" in path or path.endswith((".h5", ".keras")):
        handle = KerasModelHandle(path)
        handle._ensure()    # fail fast on the driver (missing backend / bad file)
        return handle
    with open(path, "rb") as f:
        return pickle.load(f)


class MoonshotML(Moonshot):
    """Template-method ML strategy (reference ml.py:36).

    Subclasses override ``prices_to_features`` (returning the panel with
    feature columns listed in its ``FEATURE_COLS``) and
    ``predictions_to_signals``.
    """

    #: model file path; loaded by ``_load_model_file`` (reference
    #: ml.py:211-225: joblib / keras .h5 / pickle)
    MODEL: str | None = None

    def __init__(self):
        super().__init__()
        self.model = None

    # -- user hooks (reference ml.py:227,301) -------------------------- #

    def prices_to_features(self, prices: DataFrame) -> tuple[DataFrame, list[str]]:
        """Return (panel with feature columns, ordered feature column names)."""
        raise NotImplementedError("strategies must implement prices_to_features")

    def predictions_to_signals(self, predictions: DataFrame) -> DataFrame:
        """Map the ``prediction`` column to a ``signal`` column."""
        raise NotImplementedError("strategies must implement predictions_to_signals")

    # -- model loading (reference ml.py:211-225) ----------------------- #

    def _load_model(self, model=None):
        if model is not None:
            self.model = model
            return
        if not self.MODEL:
            raise MoonshotParameterError("please specify a model file or object")
        self.model = _load_model_file(self.MODEL)

    # -- scoring (reference ml.py:444-517) ----------------------------- #

    def _score(self, df: DataFrame, feature_cols: list[str]) -> DataFrame:
        """Add a ``prediction`` column by scoring feature columns with the
        broadcast model via an Arrow-batched pandas_udf.

        Feature NaNs are zero-filled like the reference (ml.py:480);
        predict_proba models contribute P(class=1) (ml.py:494-506).
        """
        spark = df.sparkSession
        broadcast_model = spark.sparkContext.broadcast(self.model)

        @F.pandas_udf(DoubleType())
        def predict_udf(*cols: pd.Series) -> pd.Series:
            import numpy as np
            model = broadcast_model.value
            X = np.column_stack([c.fillna(0).to_numpy(dtype="float64")
                                 for c in cols])
            if hasattr(model, "predict_proba"):
                preds = model.predict_proba(X)[:, 1]
            else:
                preds = np.asarray(model.predict(X), dtype="float64")
                if preds.ndim == 2 and preds.shape[1] == 1:
                    preds = preds[:, 0]
            return pd.Series(preds)

        return df.withColumn("prediction", predict_udf(*[F.col(c) for c in feature_cols]))

    # -- pipeline override (reference ml.py:412-517) ------------------- #

    #: feature cache is ON by default in backtests, exactly like the
    #: reference (ml.py:427: ``if self.is_backtest and not no_cache``);
    #: disable per-run with ``backtest(no_cache=True)`` or per-class here.
    USE_FEATURE_CACHE = True

    def prices_to_signals(self, prices: DataFrame) -> DataFrame:
        df = feature_cols = None
        cache = key = unless = None
        if self.USE_FEATURE_CACHE and self.is_backtest and not self._no_cache:
            cache, key, unless = self._feature_cache_key(prices)
            cached = cache.get(prices.sparkSession, "features", key,
                               unless_modified=unless)
            if cached is not None:
                feature_cols = cache.get_extra("features", key) \
                    .get("feature_cols")
                df = cached if feature_cols else None
        if df is None:
            df, feature_cols = self.prices_to_features(prices)
            if cache is not None:
                # cache the FEATURES, not the predictions: the model is not
                # part of the key, and feature extraction is the expensive
                # subtree (reference ml.py:426-433 caches features too).
                # A hit replaces it with one parquet scan.
                cache.set("features", key, df,
                          extra={"feature_cols": list(feature_cols)})
                df = cache.get(prices.sparkSession, "features", key)
        scored = self._score(df, feature_cols)
        return self.predictions_to_signals(scored)

    def _feature_cache_key(self, prices: DataFrame):
        """Feature cache keyed by (CODE, input plan), invalidated when the
        strategy source file changes (reference ml.py:426-433 +
        _cache.py:114-128)."""
        import inspect

        from moonshot_spark.sources.cache import Cache

        cache = Cache()
        try:
            source_file = inspect.getsourcefile(type(self))
        except TypeError:
            source_file = None
        key = {"code": self.CODE or type(self).__name__,
               "plan": prices.semanticHash()}
        unless = [source_file] if source_file else None
        return cache, key, unless

    def backtest(self, prices: DataFrame, master: DataFrame | None = None,
                 model=None, **kwargs) -> DataFrame:
        self._load_model(model)
        return super().backtest(prices, master=master, **kwargs)

    def trade(self, prices: DataFrame, *args, model=None, **kwargs):
        """ML live trading (reference ml.py trade path, _tests/test_ml.py:2251):
        identical to Moonshot.trade with the scored-signal override."""
        self._load_model(model)
        return super().trade(prices, *args, **kwargs)
