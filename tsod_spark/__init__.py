"""tsod_spark — a PySpark-native time-series anomaly-detection engine.

Re-expresses the full capability surface of DHI/tsod (reference at
/root/reference/, see SURVEY.md) as lazy Spark DataFrame plans, plus the
large-scale data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB training-data pipeline needs.
"""

from . import _zipimport
from .detectors import (
    CombinedDetector,
    ConstantGradientDetector,
    ConstantValueDetector,
    DiffDetector,
    GradientDetector,
    HampelDetector,
    RangeDetector,
    RollingStandardDeviationDetector,
    SeasonalResidualDetector,
)
from .exceptions import (
    AnomalyDetectionError,
    InvalidArgumentError,
    NonMonotonicTimeStampsError,
    NonUniqueTimeStampsError,
    NotFittedError,
    NotIntegerError,
    WrongInputDataTypeError,
    WrongInputSizeError,
)
from .frame import TimeSeriesFrame
from .pandas_api import PandasDetectorAdapter
from .persistence import load, save

__version__ = "0.1.0"

# Python workers import this package when they unpickle an engine UDF;
# from then on their per-task import-cache reset skips unchanged zips.
_zipimport.install()

__all__ = [
    "TimeSeriesFrame",
    "CombinedDetector",
    "ConstantGradientDetector",
    "ConstantValueDetector",
    "DiffDetector",
    "GradientDetector",
    "HampelDetector",
    "RangeDetector",
    "RollingStandardDeviationDetector",
    "SeasonalResidualDetector",
    "load",
    "save",
    "PandasDetectorAdapter",
    "AnomalyDetectionError",
    "InvalidArgumentError",
    "NonMonotonicTimeStampsError",
    "NonUniqueTimeStampsError",
    "NotFittedError",
    "NotIntegerError",
    "WrongInputDataTypeError",
    "WrongInputSizeError",
]
