"""Config-object catalog: the reference's GCS bucket/object listing (S5)
and config CRUD (S7), re-expressed over a filesystem root.

Reference parity map:
  - list_buckets        <- GetBuckets            (utilities/utilities.go:38-59)
  - list_configs        <- GetConfigFiles        (utilities/utilities.go:61-85)
  - fill_config_map     <- fillConfigMap         (main.go:55-76)
  - upload              <- UploadConfigFile      (settings/settings.go:17-58)
  - delete              <- DeleteConfig          (settings/settings.go:59-99)
  - save                <- SaveConfig            (settings/settings.go:100-129)
  - display             <- DisplayConfig+DownloadFile
                                                 (settings.go:130-155,
                                                  utilities.go:14-37)

A "bucket" is a directory under `root` and a "config object" a file inside
it — the SURVEY §2.1 S5 mapping (catalog listing = filesystem glob). On a
real deployment the same call shapes run against any Hadoop-compatible FS
(gs:// via the GCS connector); nothing here is data-plane, so it stays
driver-side Python by design — no Spark job is ever scheduled for catalog
traffic. `catalog_df` exposes the map as a (bucket, config) DataFrame for
joins/audits; it is a driver-local frame over a config-sized list
(`session.local_frame`), the same small-dimension pattern the pipeline
uses for keep-sets.

Documented deviations from the reference (fail-fast over fail-silent,
consistent with the repo-wide Q11 inversion):
  - fillConfigMap returns early and silently serves a PARTIAL catalog when
    any bucket listing errors (main.go:58-59, 71-72); fill_config_map
    raises instead.
  - SaveConfig DELETES the object before writing the replacement
    (settings.go:104-120), so a failed write loses the old config; save()
    writes a temp file and os.replace()s it — atomic, old content survives
    a crash. Same observable success path.
  - DeleteConfig scrapes its own web page to find the bucket
    (settings.go:62-77) — web-app plumbing; delete() takes the bucket as
    an argument.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..config import ConfigError, ConfigSpec, load_config
from ..session import local_frame

# the reference hides its own app-infrastructure buckets from the catalog
# (main.go:38, app_specific_buckets); callers pass their deployment's set.
DEFAULT_EXCLUDED_BUCKETS: frozenset[str] = frozenset()

# settings.go:18 r.ParseMultipartForm(10 << 20) — the reference's upload
# memory cap; enforced here as a hard size gate so a fat-fingered upload
# cannot land a config the reference UI could never have accepted.
MAX_CONFIG_BYTES = 10 << 20

_YAML_EXTS = (".yml", ".yaml")


class ConfigCatalog:
    def __init__(
        self,
        root: str,
        excluded_buckets: frozenset[str] = DEFAULT_EXCLUDED_BUCKETS,
    ):
        self.root = root
        self.excluded = excluded_buckets
        os.makedirs(root, exist_ok=True)

    # -- S5: listing ---------------------------------------------------------
    def list_buckets(self) -> list[str]:
        """GetBuckets (utilities.go:38-59): every bucket, unfiltered —
        the app-specific exclusion happens in fill_config_map, as in
        fillConfigMap's allow loop (main.go:61-68)."""
        return sorted(
            e.name
            for e in os.scandir(self.root)
            if e.is_dir(follow_symlinks=False)
        )

    def list_configs(self, bucket: str) -> list[str]:
        """GetConfigFiles (utilities.go:61-85): every object name in the
        bucket. The reference lists ALL objects (nil query) and gates the
        extension only at upload time; kept identical."""
        path = self._bucket_path(bucket)
        if not os.path.isdir(path):
            raise ConfigError(f"no such bucket: {bucket!r}")
        return sorted(
            e.name for e in os.scandir(path) if e.is_file(follow_symlinks=False)
        )

    def fill_config_map(self) -> dict[str, list[str]]:
        """fillConfigMap (main.go:55-76): bucket -> config names for every
        non-app-specific bucket. Deviation: raises on a listing error
        instead of silently serving a partial catalog."""
        return {
            b: self.list_configs(b)
            for b in self.list_buckets()
            if b not in self.excluded
        }

    def catalog_df(self, spark: SparkSession) -> DataFrame:
        """The config map as a (bucket, config) DataFrame — config-sized,
        broadcast-joinable against sink tables for provenance audits."""
        rows = [
            (b, c) for b, cfgs in self.fill_config_map().items() for c in cfgs
        ]
        return local_frame(spark, rows, "bucket string, config string")

    # -- S7: CRUD ------------------------------------------------------------
    def upload(
        self,
        bucket: str,
        filename: str,
        content: str | bytes,
        create_bucket: bool = False,
    ) -> dict[str, list[str]]:
        """UploadConfigFile (settings.go:17-58): optional bucket creation
        (the 'Create Bucket' form branch, settings.go:29-38), the
        .yml/.yaml extension gate with the reference's exact error text
        ('Invalid Format', settings.go:43-45), then the object write.
        Returns the refreshed catalog map, as the reference returns the
        updated cloudConfigs."""
        if not filename.endswith(_YAML_EXTS):
            raise ConfigError("Invalid Format")
        data = content.encode() if isinstance(content, str) else content
        if len(data) > MAX_CONFIG_BYTES:
            raise ConfigError(
                f"config exceeds the {MAX_CONFIG_BYTES >> 20} MiB upload cap"
            )
        path = self._bucket_path(bucket)
        if not os.path.isdir(path):
            if not create_bucket:
                raise ConfigError(f"no such bucket: {bucket!r}")
            os.makedirs(path)
        self._atomic_write(os.path.join(path, self._object_name(filename)), data)
        return self.fill_config_map()

    def delete(self, bucket: str, filename: str) -> dict[str, list[str]]:
        """DeleteConfig (settings.go:59-99) minus the self-scrape: remove
        the object, return the refreshed catalog map."""
        path = os.path.join(
            self._bucket_path(bucket), self._object_name(filename)
        )
        if not os.path.isfile(path):
            raise ConfigError(f"no such config: {bucket!r}/{filename!r}")
        os.remove(path)
        return self.fill_config_map()

    def save(self, bucket: str, filename: str, content: str) -> None:
        """SaveConfig (settings.go:100-129): replace an existing object's
        content. Deviation: temp-write + os.replace instead of the
        reference's delete-then-write, so a crash mid-save cannot lose the
        previous config."""
        path = os.path.join(
            self._bucket_path(bucket), self._object_name(filename)
        )
        if not os.path.isfile(path):
            raise ConfigError(f"no such config: {bucket!r}/{filename!r}")
        self._atomic_write(path, content.encode())

    def display(self, bucket: str, filename: str) -> str:
        """DisplayConfig → DownloadFile (settings.go:130-155,
        utilities.go:14-37): the object's content as text."""
        path = os.path.join(
            self._bucket_path(bucket), self._object_name(filename)
        )
        if not os.path.isfile(path):
            raise ConfigError(f"no such config: {bucket!r}/{filename!r}")
        with open(path) as f:
            return f.read()

    def load(self, bucket: str, filename: str) -> ConfigSpec:
        """Catalog object → parsed ConfigSpec through the engine's
        fail-fast lint (S6) — the path an analysis run takes after the UI's
        config pick (main.go fillConfigMap → extractConfig)."""
        return load_config(
            os.path.join(self._bucket_path(bucket), self._object_name(filename))
        )

    # -- internals -----------------------------------------------------------
    def _bucket_path(self, bucket: str) -> str:
        if not bucket or bucket != os.path.basename(bucket) or bucket.startswith("."):
            raise ConfigError(f"invalid bucket name: {bucket!r}")
        return os.path.join(self.root, bucket)

    @staticmethod
    def _object_name(filename: str) -> str:
        if not filename or filename != os.path.basename(filename):
            raise ConfigError(f"invalid config name: {filename!r}")
        return filename

    @staticmethod
    def _atomic_write(path: str, data: bytes) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
