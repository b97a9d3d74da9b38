"""tsp_spark — a PySpark-native complex-event-processing / analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of Clover-Group/Tsp
(reference surveyed in SURVEY.md): temporal pattern search over keyed time
series (the TSP DSL), input reshaping (narrow→wide unfold, forward-fill),
incident extraction + sessionization — plus the large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing) the reference does not have.

Everything compiles to declarative DataFrame plans (Catalyst-optimizable);
no Python row UDFs on the hot path.
"""

__version__ = "0.1.0"

from tsp_spark.session import get_spark  # noqa: F401
from tsp_spark.zipimport_guard import install_zip_refresh_guard

# A Spark Python worker imports this package when it unpickles a kernel
# or UDF of the engine; from then on its per-task setup stops re-reading
# pyspark.zip (no-op on the driver; see zipimport_guard).
install_zip_refresh_guard()
