"""Azure inventory collector (reference: src/connectors/azure_collect.py).

The reference walks the Azure management/Graph APIs as a spec-driven
DAG: each *kind* has a request (path template + api-version + per-cloud
host), a flat response map (api field → landing column, with the
specials ``headerDate``/``tenantId``/``error`` and ``'*' → raw``), and
children whose args bind from emitted rows (azure_collect.py:753-1790).
``GET`` follows ``nextLink``/``@odata.nextLink`` pagination, shapes
empty pages as empty rows and error payloads as error rows
(azure_collect.py:1793-1910).

This module re-expresses that engine with an injectable transport
(``(url, headers) -> TransportPage``) and encodes **all 37 reference
kinds** — landing columns match the reference's API_SPECS
byte-for-byte so the cis_azure pack reads these tables unchanged. The
strict-map contract is kept: an unmapped response key raises KeyError
unless the spec carries ``'*'`` (azure_collect.py:1901-1909's
documented behavior). ``auth_audience`` / ``rate_limit`` / ``rate_by``
are carried for spec parity; pacing is the transport's concern here
(the reference paces queue_services at 0.1/s per subscription,
azure_collect.py:1734-1736).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from dataclasses import dataclass
import re
from urllib.parse import urlencode

MGMT_HOSTS = {"azure": "management.azure.com", "usgov": "management.usgovcloudapi.net"}
GRAPH_HOSTS = {"azure": "graph.microsoft.com", "usgov": "graph.microsoft.us"}

_SUB = "/subscriptions/{subscriptionId}"


# ---------------------------------------------------------------------------
# Response maps are DERIVED, not transcribed: the reference's landing
# column naming (azure_collect.py:753-1790) is mechanical — per-
# uppercase snake_case with a trailing 'DateTime' strip — plus the
# structural head (headerDate→recorded_at, tenantId, error) and
# '*'→raw. Each kind lists its API field names once; tests pin the
# derived maps byte-for-byte against the reference's dialect
# (test_azure_collect strict-map + pack-corpus fixtures).
# ---------------------------------------------------------------------------
def _snake(field: str) -> str:
    if field == "@odata.type":
        return "odata_type"
    if field == "rgName":  # the one reference-abbreviated echo name
        return "resource_group_name"
    if field.endswith("DateTime"):
        field = field[: -len("DateTime")]
    return re.sub(r"([A-Z])", r"_\1", field).lower().lstrip("_")


def _response(fields: tuple, star: bool = False) -> dict:
    out = {"headerDate": "recorded_at", "tenantId": "tenant_id",
           "error": "error"}
    for f in fields:
        out[f] = _snake(f)
    if star:
        out["*"] = "raw"
    return out


_KINDS: dict[str, dict] = {
    "subscriptions": {
        "request": {'path': '/subscriptions', 'api-version': '2019-06-01'},
        "fields": ('id',
        'subscriptionId',
        'displayName',
        'state',
        'subscriptionPolicies',
        'authorizationSource',
        'managedByTenants'),
        "children": [{'kind': 'virtual_machines',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'disks', 'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'sql_servers',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'role_definitions',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'role_assignments',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'pricings', 'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'auto_provisioning_settings',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'policy_assignments',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'security_contacts',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'activity_log_alerts',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'vaults', 'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'network_watchers',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'network_security_groups',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'log_profiles',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'hosting_environments',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'resource_groups',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'subscriptions_locations',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'managed_clusters',
        'args': {'subscriptionId': 'subscription_id'}},
        {'kind': 'storage_accounts',
        'args': {'subscriptionId': 'subscription_id'}}],
    },
    "reports_credential_user_registration_details": {
        "request": {'path': '/beta/reports/credentialUserRegistrationDetails',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'}},
        "fields": ('id',
        'userPrincipalName',
        'userDisplayName',
        'authMethods',
        'isRegistered',
        'isEnabled',
        'isCapable',
        'isMfaRegistered'),
        "star": True,
    },
    "service_principals": {
        "request": {'path': '/beta/servicePrincipals',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'}},
        "fields": ('id',
        'api',
        'accountEnabled',
        'alternativeNames',
        'appDescription',
        'appDisplayName',
        'appId',
        'appRoleAssignmentRequired',
        'appRoles',
        'applicationTemplateId',
        'appOwnerOrganizationId',
        'deletedDateTime',
        'description',
        'displayName',
        'errorUrl',
        'homepage',
        'loginUrl',
        'notes',
        'notificationEmailAddresses',
        'publishedPermissionScopes',
        'preferredSingleSignOnMode',
        'preferredTokenSigningKeyEndDateTime',
        'samlSingleSignOnSettings',
        'servicePrincipalType',
        'signInAudience',
        'tokenEncryptionKeyId',
        'addIns',
        'info',
        'keyCredentials',
        'logoutUrl',
        'oauth2Permissions',
        'passwordCredentials',
        'preferredTokenSigningKeyThumbprint',
        'publisherName',
        'replyUrls',
        'samlMetadataUrl',
        'servicePrincipalNames',
        'tags',
        'verifiedPublisher',
        'isAuthorizationServiceEnabled'),
        "star": True,
    },
    "groups": {
        "request": {'path': '/v1.0/groups',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'}},
        "fields": ('allowExternalSenders',
        'assignedLicenses',
        'autoSubscribeNewMembers',
        'classification',
        'createdDateTime',
        'creationOptions',
        'deletedDateTime',
        'description',
        'displayName',
        'expirationDateTime',
        'groupTypes',
        'hasMembersWithLicenseErrors',
        'id',
        'isAssignableToRole',
        'isSubscribedByMail',
        'licenseProcessingState',
        'mail',
        'mailEnabled',
        'mailNickname',
        'membershipRule',
        'membershipRuleProcessingState',
        'onPremisesDomainName',
        'onPremisesNetBiosName',
        'onPremisesSamAccountName',
        'resourceBehaviorOptions',
        'resourceProvisioningOptions',
        'onPremisesLastSyncDateTime',
        'onPremisesProvisioningErrors',
        'onPremisesSecurityIdentifier',
        'onPremisesSyncEnabled',
        'preferredDataLocation',
        'preferredLanguage',
        'proxyAddresses',
        'renewedDateTime',
        'securityEnabled',
        'securityIdentifier',
        'theme',
        'unseenCount',
        'visibility'),
        "star": True,
        "children": [{'kind': 'groups_members', 'args': {'groupId': 'id'}}],
    },
    "groups_members": {
        "request": {'path': '/v1.0/groups/{groupId}/members',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'}},
        "fields": ('groupId', 'id', '@odata.type'),
        "star": True,
    },
    "users": {
        "request": {'path': '/v1.0/users',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'},
        'params': {'$select': 'accountEnabled,businessPhones,city,country,createdDateTime,department,displayName,employeeId,faxNumber,givenName,jobTitle,mail,id,lastPasswordChangeDateTime,mobilePhone,officeLocation,preferredLanguage,surname,passwordPolicies,passwordProfile,userPrincipalName,userType'}},
        "fields": ('aboutMe',
        'accountEnabled',
        'ageGroup',
        'assignedLicenses',
        'assignedPlans',
        'birthday',
        'businessPhones',
        'city',
        'companyName',
        'consentProvidedForMinor',
        'country',
        'createdDateTime',
        'department',
        'displayName',
        'employeeId',
        'faxNumber',
        'givenName',
        'hireDate',
        'id',
        'imAddresses',
        'interests',
        'isResourceAccount',
        'jobTitle',
        'lastPasswordChangeDateTime',
        'legalAgeGroupClassification',
        'licenseAssignmentStates',
        'mail',
        'mailboxSettings',
        'mailNickname',
        'mobilePhone',
        'mySite',
        'officeLocation',
        'onPremisesDistinguishedName',
        'onPremisesDomainName',
        'onPremisesExtensionAttributes',
        'onPremisesImmutableId',
        'onPremisesLastSyncDateTime',
        'onPremisesProvisioningErrors',
        'onPremisesSamAccountName',
        'onPremisesSecurityIdentifier',
        'onPremisesSyncEnabled',
        'onPremisesUserPrincipalName',
        'otherMails',
        'passwordPolicies',
        'passwordProfile',
        'pastProjects',
        'postalCode',
        'preferredDataLocation',
        'preferredLanguage',
        'preferredName',
        'provisionedPlans',
        'proxyAddresses',
        'responsibilities',
        'schools',
        'showInAddressList',
        'skills',
        'signInSessionsValidFromDateTime',
        'state',
        'streetAddress',
        'surname',
        'usageLocation',
        'userPrincipalName',
        'userType'),
    },
    "managed_devices": {
        "request": {'path': '/v1.0/deviceManagement/managedDevices',
        'host': {'azure': 'graph.microsoft.com',
                'usgov': 'graph.microsoft.us'}},
        "fields": ('id',
        'userId',
        'deviceName',
        'managedDeviceOwnerType',
        'deviceActionResults',
        'enrolledDateTime',
        'lastSyncDateTime',
        'operatingSystem',
        'complianceState',
        'jailBroken',
        'managementAgent',
        'osVersion',
        'easActivated',
        'easDeviceId',
        'easActivationDateTime',
        'azureADRegistered',
        'deviceEnrollmentType',
        'activationLockBypassCode',
        'emailAddress',
        'azureADDeviceId',
        'deviceRegistrationState',
        'deviceCategoryDisplayName',
        'isSupervised',
        'exchangeLastSuccessfulSyncDateTime',
        'exchangeAccessState',
        'exchangeAccessStateReason',
        'remoteAssistanceSessionUrl',
        'remoteAssistanceSessionErrorDetails',
        'isEncrypted',
        'userPrincipalName',
        'model',
        'manufacturer',
        'imei',
        'complianceGracePeriodExpirationDateTime',
        'serialNumber',
        'phoneNumber',
        'androidSecurityPatchLevel',
        'userDisplayName',
        'configurationManagerClientEnabledFeatures',
        'wiFiMacAddress',
        'deviceHealthAttestationState',
        'subscriberCarrier',
        'meid',
        'totalStorageSpaceInBytes',
        'freeStorageSpaceInBytes',
        'managedDeviceName',
        'partnerReportedThreatState'),
        "star": True,
    },
    "subscriptions_locations": {
        "request": {'path': '/subscriptions/{subscriptionId}/locations',
        'api-version': '2019-06-01'},
        "fields": ('subscriptionId',
        'displayName',
        'id',
        'latitude',
        'longitude',
        'name'),
    },
    "virtual_machines": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Compute/virtualMachines',
        'api-version': '2019-03-01'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'location',
        'name',
        'plan',
        'properties',
        'resources',
        'tags',
        'type',
        'zones'),
        "children": [{'kind': 'virtual_machines_instance_view', 'args': {'vmId': 'id'}},
        {'kind': 'virtual_machines_extensions', 'args': {'vmId': 'id'}}],
    },
    "virtual_machines_instance_view": {
        "request": {'path': '{vmId}/instanceView', 'api-version': '2019-07-01'},
        "fields": ('vmId',
        'bootDiagnostics',
        'computerName',
        'disks',
        'extensions',
        'hyperVGeneration',
        'maintenanceRedeployStatus',
        'osName',
        'osVersion',
        'platformFaultDomain',
        'platformUpdateDomain',
        'rdpThumbPrint',
        'statuses',
        'vmAgent'),
    },
    "virtual_machines_extensions": {
        "request": {'path': '{vmId}/extensions', 'api-version': '2019-07-01'},
        "fields": ('vmId', 'id', 'location', 'name', 'properties', 'tags', 'type'),
    },
    "managed_clusters": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.ContainerService/managedClusters',
        'api-version': '2019-08-01'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "vaults": {
        "request": {'path': '/subscriptions/{subscriptionId}/resources',
        'params': {'$filter': "resourceType eq 'Microsoft.KeyVault/vaults'"},
        'api-version': '2019-11-01'},
        "fields": ('subscriptionId', 'id', 'location', 'name', 'tags', 'type'),
        "children": [{'kind': 'vaults_keys', 'args': {'vaultName': 'name'}},
        {'kind': 'vaults_secrets', 'args': {'vaultName': 'name'}},
        {'kind': 'diagnostic_settings', 'args': {'resourceUri': 'id'}}],
    },
    "vaults_keys": {
        "request": {'host': {'azure': '{vaultName}.vault.azure.net',
                'usgov': '{vaultName}.vault.usgovcloudapi.net'},
        'auth_audience': {'azure': 'vault.azure.net',
                         'usgov': 'vault.usgovcloudapi.net'},
        'path': '/keys',
        'params': {'maxresults': '25'},
        'api-version': '7.0'},
        "fields": ('vaultName', 'attributes', 'kid', 'managed', 'tags'),
    },
    "vaults_secrets": {
        "request": {'host': {'azure': '{vaultName}.vault.azure.net',
                'usgov': '{vaultName}.vault.usgovcloudapi.net'},
        'auth_audience': {'azure': 'vault.azure.net',
                         'usgov': 'vault.usgovcloudapi.net'},
        'path': '/secrets',
        'params': {'maxresults': '25'},
        'api-version': '7.0'},
        "fields": ('vaultName', 'attributes', 'contentType', 'id', 'managed', 'tags'),
    },
    "resource_groups": {
        "request": {'path': '/subscriptions/{subscriptionId}/resourcegroups',
        'api-version': '2019-08-01'},
        "fields": ('subscriptionId',
        'id',
        'location',
        'managedBy',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "hosting_environments": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Web/hostingEnvironments',
        'api-version': '2019-08-01'},
        "fields": ('subscriptionId',
        'id',
        'kind',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
        "children": [
            {
                "kind": "webapps",
                "args": {
                    "subscriptionId": "subscription_id",
                    # azure_collect.py:1325-1328's lambda binding
                    "resourceGroupName": lambda row: (
                        (row.get("properties") or {}).get("resourceGroup")
                    ),
                    "name": "name",
                },
            }
        ],
    },
    "webapps": {
        "request": {'path': '/subscriptions/{subscriptionId}/resourceGroups/{resourceGroupName}/providers/Microsoft.Web/hostingEnvironments/{name}/sites',
        'api-version': '2019-08-01'},
        "fields": ('subscriptionId',
        'id',
        'kind',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "storage_accounts": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Storage/storageAccounts',
        'api-version': '2019-06-01'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'kind',
        'location',
        'name',
        'properties',
        'sku',
        'tags',
        'type'),
        "children": [{'kind': 'storage_accounts_containers',
        'args': {'subscriptionId': 'subscription_id', 'accountName': 'name'}},
        {'kind': 'queue_services',
        'args': {'subscriptionId': 'subscription_id',
                'accountFullId': 'id',
                'accountName': 'name'}},
        {'kind': 'queue_services_properties',
        'args': {'subscriptionId': 'subscription_id',
                'accountFullId': 'id',
                'accountName': 'name'}}],
    },
    "storage_accounts_containers": {
        "request": {'path': '/',
        'params': {'comp': 'list'},
        'host': {'azure': '{accountName}.blob.core.windows.net',
                'usgov': '{accountName}.blob.core.usgovcloudapi.net'},
        'auth_audience': 'storage.azure.com',
        'api-version': '2019-02-02'},
        "response_value_key": 'EnumerationResults.Containers.Container',
        "fields": ('subscriptionId', 'accountName', 'Error', 'Name', 'Properties'),
    },
    "log_profiles": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/microsoft.insights/logprofiles',
        'api-version': '2016-03-01'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'kind',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "disks": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Compute/disks',
        'api-version': '2019-07-01'},
        "fields": ('subscriptionId',
        'id',
        'location',
        'managedBy',
        'name',
        'properties',
        'sku',
        'tags',
        'type',
        'zones'),
    },
    "role_definitions": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Authorization/roleDefinitions',
        'api-version': '2015-07-01'},
        "fields": ('subscriptionId', 'displayName', 'id', 'name', 'properties', 'type'),
    },
    "role_assignments": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Authorization/roleAssignments',
        'api-version': '2015-07-01'},
        "fields": ('subscriptionId', 'id', 'name', 'properties', 'type'),
    },
    "network_security_groups": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Network/networkSecurityGroups',
        'api-version': '2019-09-01'},
        "fields": ('subscriptionId',
        'etag',
        'id',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "network_watchers": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Network/networkWatchers',
        'api-version': '2019-09-01'},
        "fields": ('subscriptionId',
        'etag',
        'id',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
    },
    "pricings": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Security/pricings',
        'api-version': '2018-06-01'},
        "fields": ('subscriptionId', 'id', 'name', 'properties', 'type'),
    },
    "auto_provisioning_settings": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Security/autoProvisioningSettings',
        'api-version': '2017-08-01-preview'},
        "fields": ('subscriptionId', 'id', 'name', 'properties', 'type'),
        "star": True,
    },
    "policy_assignments": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Authorization/policyAssignments',
        'api-version': '2019-09-01'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'location',
        'name',
        'properties',
        'sku',
        'type'),
    },
    "security_contacts": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Security/securityContacts',
        'api-version': '2017-08-01-preview'},
        "fields": ('subscriptionId', 'id', 'name', 'type', 'properties', 'etag'),
        "star": True,
    },
    "diagnostic_settings": {
        "request": {'path': '{resourceUri}/providers/microsoft.insights/diagnosticSettings',
        'api-version': '2017-05-01-preview'},
        "fields": ('resourceUri',
        'id',
        'location',
        'kind',
        'name',
        'type',
        'tags',
        'identity',
        'properties'),
        "star": True,
    },
    "workflows": {
        "request": {'path': '/subscriptions/{subscriptionId}/resourcegroups/{rgName}/providers/microsoft.logic/workflows',
        'api-version': '2016-06-01'},
        "fields": ('subscriptionId', 'rgName', 'id', 'name', 'type', 'properties'),
    },
    "activity_log_alerts": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/microsoft.insights/activityLogAlerts',
        'api-version': '2017-04-01'},
        "fields": ('subscriptionId',
        'id',
        'location',
        'name',
        'properties',
        'tags',
        'type',
        'kind',
        'identity'),
    },
    "queue_services": {
        "request": {'path': '{accountFullId}/queueServices', 'api-version': '2019-06-01'},
        "rate_limit": '0.1/s',
        "rate_by": 'subscriptionId',
        "fields": ('subscriptionId',
        'accountFullId',
        'accountName',
        'id',
        'name',
        'type',
        'properties'),
    },
    "queue_services_properties": {
        "request": {'path': '/',
        'params': {'restype': 'service', 'comp': 'properties'},
        'host': {'azure': '{accountName}.queue.core.windows.net',
                'usgov': '{accountName}.queue.core.usgovcloudapi.net'},
        'auth_audience': 'storage.azure.com',
        'api-version-header': '2019-12-12'},
        "response_value_key": 'StorageServiceProperties',
        "fields": ('subscriptionId',
        'accountFullId',
        'accountName',
        'Error',
        'Cors',
        'Logging',
        'MinuteMetrics',
        'HourMetrics'),
        "star": True,
    },
    "sql_servers": {
        "request": {'path': '/subscriptions/{subscriptionId}/providers/Microsoft.Sql/servers',
        'api-version': '2019-06-01-preview'},
        "fields": ('subscriptionId',
        'id',
        'identity',
        'kind',
        'location',
        'name',
        'properties',
        'tags',
        'type'),
        "star": True,
        "children": [{'kind': 'sql_servers_auditing_settings',
        'args': {'serverFullId': 'id'}}],
    },
    "sql_servers_auditing_settings": {
        "request": {'path': '{serverFullId}/auditingSettings/default',
        'api-version': '2017-03-01-preview'},
        "fields": ('serverFullId', 'id', 'name', 'type', 'properties'),
        "star": True,
    },
}

API_SPECS: dict[str, dict] = {
    kind: {
        **{k: v for k, v in spec.items() if k not in ("fields", "star")},
        "response": _response(spec["fields"], spec.get("star", False)),
    }
    for kind, spec in _KINDS.items()
}


# the reference seeds these kinds per credential (azure_collect.py:1922-1931)
SEED_KINDS = (
    "reports_credential_user_registration_details",
    "users",
    "groups",
    "service_principals",
    "managed_devices",
    "subscriptions",
)


def landing_table(kind: str, prefix: str = "data_azure_collect_") -> str:
    """Reference landing naming (azure_collect.py:1936-1938): the
    subscriptions seed lands into the ``_connection`` table."""
    return prefix + ("connection" if kind == "subscriptions" else kind)


@dataclass
class TransportPage:
    status: int
    body: dict | list  # parsed JSON payload
    header_date: dt.datetime | None = None


Transport = Callable[[str, dict], TransportPage]


def build_url(kind: str, params: dict, cloud: str = "azure") -> str:
    """azure_collect.py:1794-1822: path template + per-cloud host
    (itself a template for vault/storage data-plane hosts) +
    api-version/query params."""
    req = API_SPECS[kind]["request"]
    path = req["path"].format(**params)
    host = req.get("host", MGMT_HOSTS)
    if isinstance(host, dict):
        host = host[cloud]
    host = host.format(**params)
    api_version = req.get("api-version")
    query = urlencode(
        {**({"api-version": api_version} if api_version else {}),
         **req.get("params", {})}
    )
    return f"https://{host}{path}" + (f"?{query}" if query else "")


def request_headers(kind: str) -> dict:
    """Accept JSON everywhere; storage-style endpoints version via the
    x-ms-version header instead of a query param."""
    req = API_SPECS[kind]["request"]
    headers = {"Accept": "application/json"}
    if "api-version-header" in req:
        headers["x-ms-version"] = req["api-version-header"]
    return headers


def _response_values(spec: dict, result) -> list:
    """azure_collect.py:1859-1875: list → items; dict → single row;
    scalar/None → error row; empty list → one empty row."""
    for vk in spec.get("response_value_key", "value").split("."):
        if result is None or not isinstance(result, dict) or vk not in result:
            break
        result = result[vk]
    return (
        result
        if type(result) is list
        else [result]
        if type(result) is dict
        else [{"error": result}]
    ) or [{}]


def map_row(kind: str, value: dict) -> dict:
    """Strict response-map application (azure_collect.py:1898-1909):
    unmapped keys raise KeyError unless the spec has ``'*'``."""
    response_spec = API_SPECS[kind]["response"]
    return {
        response_spec[k]: (value if k == "*" else value.get(k))
        for k in value.keys() | response_spec.keys()
        if k in response_spec or "*" not in response_spec
    }


def get_pages(
    kind: str,
    params: dict,
    transport: Transport,
    tenant: str,
    cloud: str = "azure",
    now: dt.datetime | None = None,
) -> Iterator[dict]:
    """One mapped landing row per response value, across all pages
    (nextLink / @odata.nextLink chains)."""
    url = build_url(kind, params, cloud)
    while url:
        page = transport(url, request_headers(kind))
        result = page.body
        if not isinstance(result, (dict, list)):
            result = {
                "error": {"type": "JSONDecodeError", "status_code": page.status,
                          "response_text": str(result)}
            }
        for v in _response_values(API_SPECS[kind], result):
            value = {
                **v,
                **params,
                "headerDate": page.header_date or now or dt.datetime.utcnow(),
                "tenantId": tenant,
            }
            yield map_row(kind, value)
        url = ""
        if isinstance(result, dict):
            url = result.get("nextLink") or result.get("@odata.nextLink") or ""


def child_tasks(kind: str, row: dict) -> Iterator[tuple[str, dict]]:
    """DAG edges: child kinds with args bound from the emitted row —
    string sources read a column, callables compute from the whole row
    (the reference's lambda bindings, azure_collect.py:1325-1328)."""
    for child in API_SPECS[kind].get("children", []):
        ck = child["kind"]
        if ck not in API_SPECS:
            continue
        args = {
            arg: (src(row) if callable(src) else row.get(src))
            for arg, src in child["args"].items()
        }
        if any(v is None for v in args.values()):
            continue
        yield ck, args


def land_batches(spark, batches: Iterator[tuple[str, list[dict]]]):
    """Land ``ingest`` output as temp views the cis_azure pack reads.

    Rows of one kind are uniform (the strict map emits every spec
    column, absent → None), so the columns of a kind are its spec
    column order; values and types as ``collect.land_rows`` lands them
    (nested dicts/lists, variant-typed in the reference DDL,
    azure_collect.py:70-741, become JSON). Each kind registers under its
    reference landing name (``data_azure_collect_*`` /
    ``data_azure_collect_connection``) plus the bare ``azure_collect_*``
    alias two pack views use verbatim (cis_azure_pack.sql:2186,2226).

    Scale note: sized to collector output (inventory snapshots); the
    100 TB landing is a partitioned parquet append with this view shape.
    """
    from snowalert_spark.sources.collect import land_rows

    by_kind: dict[str, list[dict]] = {}
    for kind, rows in batches:
        by_kind.setdefault(kind, []).extend(rows)

    return {
        landing_table(kind): land_rows(
            spark,
            rows,
            list(dict.fromkeys(API_SPECS[kind]["response"].values())),
            (landing_table(kind), f"azure_collect_{kind}"),
        )
        for kind, rows in by_kind.items()
    }


def ingest(
    options: dict,
    transport: Transport | None = None,
    kinds: tuple[str, ...] = SEED_KINDS,
) -> Iterator[tuple[str, list[dict]]]:
    """Walk the collection DAG from the seed kinds, yielding
    ``(kind, rows)`` batches for the ``data.azure_collect_{kind}``
    landing tables (azure_collect.py:1912-2040 shape).

    With no transport injected, the stdlib HTTPS default
    (``sources.transport.azure_transport``) is used."""
    if transport is None:
        from snowalert_spark.sources.transport import azure_transport

        transport = azure_transport()
    tenant = options["tenant"]
    cloud = options.get("cloud", "azure")
    queue: list[tuple[str, dict]] = [(k, {}) for k in kinds]
    seen = set()
    while queue:
        kind, params = queue.pop(0)
        key = (kind, tuple(sorted(params.items())))
        if key in seen:
            continue
        seen.add(key)
        rows = list(get_pages(kind, params, transport, tenant, cloud))
        yield kind, rows
        for row in rows:
            queue.extend(child_tasks(kind, row))
