"""The benchmark's traced run wraps these package entry points by name
(a method must sit in its class's own ``__dict__``; a function is
rebound wherever a module holds it).  A refactor that moves one must
fail here, not in the middle of a traced benchmark run."""

import importlib
import inspect


def test_traced_methods_sit_on_their_classes():
    from loudml_spark.api import Engine
    from loudml_spark.ml.models import (
        BaseModel,
        DonutModel,
        GaussianModel,
        SeasonalNaiveModel,
    )
    from loudml_spark.server import _Handler
    from loudml_spark.sources.base import ParquetBucket

    methods = [(Engine, a) for a in
               ("read", "write", "eval_model", "forecast", "train")]
    methods += [(ParquetBucket, "read"), (ParquetBucket, "write")]
    methods += [(cls, "fit") for cls in
                (GaussianModel, SeasonalNaiveModel, DonutModel)]
    methods += [(BaseModel, "predict"), (_Handler, "_dispatch")]
    for cls, attr in methods:
        assert inspect.isfunction(cls.__dict__.get(attr)), \
            f"{cls.__name__}.{attr}"


def test_traced_functions_exist():
    from loudml_spark import api, features
    from loudml_spark.ml import detect
    from loudml_spark.sources import tables

    bz = importlib.import_module("loudml_spark.operators.bucketize")
    for module, name in ((detect, "detect_anomalies"),
                         (api, "forecast_model"), (tables, "load_table"),
                         (bz, "bucketize"), (features, "parse_features")):
        fn = getattr(module, name, None)
        assert inspect.isfunction(fn) and fn.__module__ == module.__name__, \
            f"{module.__name__}.{name}"
